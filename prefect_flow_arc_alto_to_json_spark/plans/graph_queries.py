"""Graph/link-analysis queries (operators/graph.py) — iterative PageRank
made hash-checkable by unrolling the fixed iteration count in the oracle.

The graph is derived from the star schema itself: nation→nation trade
edges (customer's nation → supplier's nation, weighted by lineitem
count, the TPC-H q7 join shape), so the query also re-exercises the
3-fact join path. 25 nodes keeps the oracle's 3-way unroll cheap while
the Spark side runs the exact loop a billion-node corpus would (per-
iteration join + partial agg + lineage truncation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table
from .registry import query

_SQL_EDGES = """
    SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
           CAST(COUNT(*) AS BIGINT) AS w
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    GROUP BY 1, 2
"""


def _trade_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The join of ``_SQL_EDGES`` before its GROUP BY: one row per
    lineitem with its customer, supplier and their nations (and the
    order date, for graphs cut by time). The q7 join shape: the facts
    shuffle on orderkey, the two dimensions broadcast. Column pruning
    drops whatever a caller does not read."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
    )


def _trade_edges(lines: DataFrame) -> DataFrame:
    """``(src, dst, w)`` nation trade edges over :func:`_trade_lines`
    rows — customer's nation → supplier's nation, weighted by lineitem
    count: the Spark side of ``_SQL_EDGES``."""
    return lines.groupBy(
        F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
    ).agg(F.count(F.lit(1)).alias("w"))


def _strong_edges(edges: DataFrame) -> DataFrame:
    """The STRONG-ROUTE subgraph ``src <> dst AND w * n >= tot``: edges
    whose weight is at least the mean, compared in exact integers (no
    float mean), self-loops dropped. The totals are a 1-row broadcast
    cross join, never a driver collect."""
    tot = edges.agg(F.sum("w").alias("tot"), F.count(F.lit(1)).alias("n"))
    return (
        edges.crossJoin(F.broadcast(tot))
        .where(
            (F.col("src") != F.col("dst"))
            & (F.col("w") * F.col("n") >= F.col("tot"))
        )
        .select("src", "dst", "w")
    )


_SQL_ITER = """
    r{K} AS (
      SELECT n2.node,
             CAST((SELECT base FROM consts) + COALESCE(SUM(c), 0) AS BIGINT)
               AS rank_nano
      FROM nodes n2 LEFT JOIN (
        SELECT e.dst AS node,
               CAST(ROUND(r.rank_nano * 0.85 * e.w / o.out_w) AS BIGINT) AS c
        FROM edges e
        JOIN outw o ON o.src = e.src
        JOIN r{P} r ON r.node = e.src
      ) contrib ON contrib.node = n2.node
      GROUP BY n2.node
    )
"""


@query(
    "q_pagerank_trade",
    # Promoted to the graded window in round 7: the iterative-graph
    # family previously had no driver-graded representative.
    oracle=f"""
    WITH edges AS ({_SQL_EDGES}),
    outw AS (SELECT src, SUM(w) AS out_w FROM edges GROUP BY src),
    nodes AS (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges
      )
    ),
    consts AS (
      SELECT CAST(ROUND((1.0 - 0.85) * 1000000000 / COUNT(*)) AS BIGINT)
               AS base,
             CAST(ROUND(1000000000.0 / COUNT(*)) AS BIGINT) AS r_init
      FROM nodes
    ),
    r0 AS (
      SELECT node, (SELECT r_init FROM consts) AS rank_nano FROM nodes
    ),
    {_SQL_ITER.format(K=1, P=0)},
    {_SQL_ITER.format(K=2, P=1)},
    {_SQL_ITER.format(K=3, P=2)}
    SELECT CAST(node AS BIGINT) AS node, rank_nano FROM r3
    """,
)
def q_pagerank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (3 synchronous iterations, d=0.85) over the
    nation-level trade graph: src = customer's nation, dst = supplier's
    nation, weight = lineitem count on orders between them. Every edge
    contribution is nano-unit snapped BEFORE the per-node sum
    (operators/graph.py determinism contract), so the triple-unrolled
    SQL replay is hash-exact — an ITERATIVE float algorithm holding a
    full value oracle, like dedup_components does for label propagation.

    Scale: per iteration ONE ranks⋈edges join on src (exchange-free if
    edges persist bucketed by src) + one groupBy(dst) partial agg;
    localCheckpoint truncates lineage so 3 or 300 iterations plan the
    same. The edge build is the q7 join shape: facts shuffle on
    orderkey/custkey, nation dims broadcast.
    """
    from ..operators.graph import pagerank

    edges = _trade_edges(_trade_lines(spark, sf_dir))
    return pagerank(edges, iterations=3).select(
        F.col("node").cast("long").alias("node"), "rank_nano"
    )


@query(
    "q_triangle_counts",
    extra=True,
    oracle=f"""
    WITH edges AS ({_SQL_EDGES}),
    und AS (
      SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      FROM edges WHERE src <> dst
    ),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM und e1
      JOIN und e2 ON e2.a = e1.b
      JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri
    FROM (
      SELECT x AS node FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri
    )
    GROUP BY node
    """,
)
def q_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation triangle participation in the undirected trade graph
    (operators/graph.py:triangle_counts) — each triangle (a<b<c) found
    once via the canonical two-join wedge closure and attributed to its
    three corners. Completes the graph-primitive trio (components /
    PageRank / triangles) with the same derived-graph input as
    q_pagerank_trade, and the oracle replays edge canonicalization,
    closure and attribution exactly.
    """
    from ..operators.graph import triangle_counts

    edges = _trade_edges(_trade_lines(spark, sf_dir))
    return triangle_counts(edges).select(
        F.col("node").cast("long").alias("node"), "n_tri"
    )


#: the SHARED recursion text — spliced after the engine-specific edge CTE
_SQL_REACH_BODY = """reach(node, hops) AS (
      SELECT CAST(3 AS BIGINT) AS node, 0 AS hops
      UNION ALL
      SELECT e.dst AS node, r.hops + 1 AS hops
      FROM reach r JOIN edges e ON e.src = r.node
      WHERE r.hops < 2
    )
    SELECT node, CAST(MIN(hops) AS INTEGER) AS min_hops
    FROM reach GROUP BY node"""


@query(
    "q_recursive_reachability",
    # promoted to the graded window in round 8 (WITH RECURSIVE was
    # extra-only; q_topk_per_group rotated out)
    oracle=f"""
    WITH RECURSIVE edges AS ({_SQL_EDGES}),
    {_SQL_REACH_BODY}
    """,
)
def q_recursive_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded transitive closure via a RECURSIVE CTE (Spark 4's WITH
    RECURSIVE — the SQL-surface breadth item): BFS from nation 3 over the
    directed trade graph, depth ≤ 2, minimum hop count per reached node.
    The recursion text is SHARED between engines (same CTE, same depth
    bound, same MIN fold — only the edge derivation differs, DataFrame
    API vs the _SQL_EDGES oracle CTE), so the recursive evaluator itself
    is what's being adjudicated.

    Scale: each recursion level is one join + union (Spark executes
    levels iteratively like the hand-rolled pagerank loop); the depth
    bound keeps the working relation finite on cyclic graphs — unbounded
    closures belong to the iterative operators (dedup.connected_
    components), which checkpoint per level.
    """
    edges = _trade_edges(_trade_lines(spark, sf_dir))
    edges.createOrReplaceTempView("edges")
    return spark.sql("WITH RECURSIVE " + _SQL_REACH_BODY)


@query(
    "q_degree_assortativity",
    extra=True,
    oracle="""
    WITH e AS (
      SELECT DISTINCT o.o_custkey AS ck, l.l_suppkey AS sk
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    dc AS (SELECT ck, CAST(COUNT(*) AS BIGINT) AS j FROM e GROUP BY ck),
    ds AS (SELECT sk, CAST(COUNT(*) AS BIGINT) AS k FROM e GROUP BY sk),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m_edges,
             CAST(SUM(j * k) AS BIGINT) AS s_jk,
             CAST(SUM(j + k) AS BIGINT) AS s_jpk,
             CAST(SUM(j * j + k * k) AS BIGINT) AS s_j2k2
      FROM e JOIN dc USING (ck) JOIN ds USING (sk)
    )
    SELECT m_edges, s_jk,
           CASE WHEN num >= 0
                THEN CAST((2 * (ABS(num) // g) * 1000000 + den // g)
                          // (2 * (den // g)) AS BIGINT)
                ELSE -CAST((2 * (ABS(num) // g) * 1000000 + den // g)
                           // (2 * (den // g)) AS BIGINT)
           END AS r_ppm
    FROM (
      SELECT m_edges, s_jk, num, den,
             GREATEST(CAST(1 AS BIGINT), den // 1000000000) AS g
      FROM (
        SELECT m_edges, s_jk,
               4 * m_edges * s_jk - s_jpk * s_jpk AS num,
               2 * m_edges * s_j2k2 - s_jpk * s_jpk AS den
        FROM m
      )
    )
    """,
)
def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the customer-supplier trading graph
    (distinct who-buys-from-whom edges): Newman's r — the Pearson
    correlation of endpoint degrees across edges — answers whether
    high-degree hubs link to other hubs (r>0) or to the periphery (r<0),
    the structural question behind sampling bias in graph-derived
    training data. With integer sums S_jk, S_(j+k), S_(j2+k2) and edge
    count M, r = (4*M*S_jk - S_(j+k)^2) / (2*M*S_(j2+k2) - S_(j+k)^2) —
    EVERY moment is an exact long, and the signed ppm report applies the
    half-away-from-zero integer device to |num| (both engines truncate
    positive `div` identically; negation restores the sign). No float
    enters at any step. num/den reach ~1e17 at sf0.1 (measured), so the
    raw device's 2*num*1e6 product would overflow a long: both sides
    first right-shift num and den by the SAME divisor g = max(1,
    den div 1e9) — the shifted integers are identical in both engines,
    so cross-engine determinism is preserved while the introduced
    relative error (~1e-9) sits three orders below ppm granularity.

    Scale: the distinct-edge shuffle is keyed (ck, sk); both degree
    relations are node-sized (<< edges) and BROADCAST onto the edge list
    — no edge-relation reshuffle; the moment reduce is a single partial
    agg to one row. At true scale with node tables too big to broadcast,
    the two joins run keyed on ck then sk — still two bounded shuffles
    of a (long, long) relation."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    e = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("ck"), F.col("l_suppkey").alias("sk"))
        .distinct()
    )
    dc = e.groupBy("ck").agg(F.count(F.lit(1)).alias("j"))
    ds = e.groupBy("sk").agg(F.count(F.lit(1)).alias("k"))
    m = (
        e.join(F.broadcast(dc), "ck")
        .join(F.broadcast(ds), "sk")
        .agg(
            F.count(F.lit(1)).alias("m_edges"),
            F.sum(F.col("j") * F.col("k")).alias("s_jk"),
            F.sum(F.col("j") + F.col("k")).alias("s_jpk"),
            F.sum(
                F.col("j") * F.col("j") + F.col("k") * F.col("k")
            ).alias("s_j2k2"),
        )
    )
    num = (
        F.lit(4) * F.col("m_edges") * F.col("s_jk")
        - F.col("s_jpk") * F.col("s_jpk")
    )
    den = (
        F.lit(2) * F.col("m_edges") * F.col("s_j2k2")
        - F.col("s_jpk") * F.col("s_jpk")
    )
    g = F.greatest(
        F.lit(1).cast("long"), F.call_function("div", den, F.lit(1_000_000_000))
    )
    a_s = F.call_function("div", F.abs(num), g)
    den_s = F.call_function("div", den, g)
    scaled = F.call_function(
        "div", F.lit(2) * a_s * 1_000_000 + den_s, F.lit(2) * den_s
    )
    return m.select(
        "m_edges",
        "s_jk",
        F.when(num >= 0, scaled).otherwise(-scaled).alias("r_ppm"),
    )


def _lpa_iter_sql(t: int, prev: str) -> str:
    """One unrolled LPA round: weighted neighbor vote, max weight then
    min label (plain-string assembly, no braces)."""
    return (
        "    v%d AS (\n"
        "      SELECT e.src AS node, l.community AS nbr_label,\n"
        "             CAST(SUM(e.w) AS BIGINT) AS vw\n"
        "      FROM und e JOIN %s l ON l.node = e.dst\n"
        "      GROUP BY 1, 2\n"
        "    ),\n"
        "    l%d AS (\n"
        "      SELECT node, nbr_label AS community FROM (\n"
        "        SELECT node, nbr_label, ROW_NUMBER() OVER (\n"
        "          PARTITION BY node ORDER BY vw DESC, nbr_label ASC\n"
        "        ) AS rn FROM v%d\n"
        "      ) WHERE rn = 1\n"
        "    )" % (t, prev, t, t)
    )


_LPA_ORACLE = (
    "WITH base AS (" + _SQL_EDGES + "),\n"
    "    und AS (\n"
    "      SELECT src, dst, CAST(SUM(w) AS BIGINT) AS w FROM (\n"
    "        SELECT src, dst, w FROM base WHERE src <> dst\n"
    "        UNION ALL\n"
    "        SELECT dst AS src, src AS dst, w FROM base WHERE src <> dst\n"
    "      ) GROUP BY src, dst\n"
    "    ),\n"
    "    l0 AS (SELECT DISTINCT src AS node, src AS community FROM und),\n"
    + ",\n".join(_lpa_iter_sql(t, "l%d" % (t - 1)) for t in (1, 2, 3))
    + """
    SELECT l.node, l.community,
           CAST(c.n_members AS BIGINT) AS n_members
    FROM l3 l JOIN (
      SELECT community, COUNT(*) AS n_members FROM l3 GROUP BY community
    ) c ON c.community = l.community
    """
)


@query("q_lpa_communities", extra=True, oracle=_LPA_ORACLE)
def q_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by weighted label propagation over the
    nation-trade graph — the clustering companion to
    dedup_components (reachability) and q_pagerank_trade (centrality):
    3 synchronous rounds, each node adopting its neighbors'
    weight-heaviest label with a total-order tie-break, so the
    notoriously tie-unstable algorithm becomes deterministic and the
    oracle replays all three rounds unrolled (operators/graph.py:
    lpa_communities).

    Scale: per round one labels⋈edges join keyed on the neighbor
    endpoint + one max_by agg per node; lineage checkpoint-truncated.
    The trade graph keeps the oracle's 3-round unroll cheap while the
    Spark loop is the shape a billion-edge graph runs."""
    from ..operators.graph import lpa_communities

    edges = _trade_edges(_trade_lines(spark, sf_dir))
    labels = lpa_communities(edges, iterations=3)
    sizes = labels.groupBy("community").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    return labels.join(F.broadcast(sizes), "community").select(
        F.col("node").cast("long").alias("node"),
        F.col("community").cast("long").alias("community"),
        "n_members",
    )


def _hits_half_sql(t: int, score: str, prev_rel: str, key_in: str,
                   key_out: str, out_rel: str) -> str:
    """One HITS half-iteration (plain-string assembly): contribution
    join + per-node sum + half-up micro renormalization."""
    return (
        "    %s_raw AS (\n"
        "      SELECT e.%s AS node, CAST(SUM(e.w * p.s) AS BIGINT) AS v\n"
        "      FROM und e JOIN %s p ON p.node = e.%s\n"
        "      GROUP BY e.%s\n"
        "    ),\n"
        "    %s_fill AS (\n"
        "      SELECT n.node, COALESCE(r.v, 0) AS v\n"
        "      FROM nodes n LEFT JOIN %s_raw r ON r.node = n.node\n"
        "    ),\n"
        "    %s AS (\n"
        "      SELECT node, CAST((2 * v * 1000000 + mx) // (2 * mx)"
        " AS BIGINT) AS s\n"
        "      FROM %s_fill, (SELECT MAX(v) AS mx FROM %s_fill)\n"
        "    )" % (
            out_rel, key_out, prev_rel, key_in, key_out,
            out_rel, out_rel, out_rel, out_rel, out_rel,
        )
    )


_HITS_ORACLE = (
    "WITH base AS (" + _SQL_EDGES + "),\n"
    "    und AS (SELECT src, dst, CAST(w AS BIGINT) AS w FROM base),\n"
    "    nodes AS (\n"
    "      SELECT DISTINCT node FROM (\n"
    "        SELECT src AS node FROM und UNION ALL SELECT dst FROM und\n"
    "      )\n"
    "    ),\n"
    "    h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS s FROM nodes),\n"
    + ",\n".join(
        [
            _hits_half_sql(1, "a", "h0", "src", "dst", "a1"),
            _hits_half_sql(1, "h", "a1", "dst", "src", "h1"),
            _hits_half_sql(2, "a", "h1", "src", "dst", "a2"),
            _hits_half_sql(2, "h", "a2", "dst", "src", "h2"),
        ]
    )
    + """
    SELECT n.node, h2.s AS hub_micro, a2.s AS auth_micro
    FROM nodes n JOIN h2 ON h2.node = n.node JOIN a2 ON a2.node = n.node
    """
)


@query("q_hits_ranking", extra=True, oracle=_HITS_ORACLE)
def q_hits_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (operators/graph.py:hits_scores) over the
    directed nation-trade graph — the second classic link-analysis
    recurrence beside PageRank, distinguishing who BUYS from everywhere
    (hub) from who SELLS to everyone (authority): 2 synchronous
    iterations, every half-step renormalized to max = 1e6 in half-up
    integer micro-units so all scores stay exact longs and the oracle
    unrolls all four half-iterations value-exactly.

    Scale: per half-iteration one scores⋈edges join keyed on the
    contributing endpoint + a map-side partial agg + a 1-row max
    broadcast; checkpoint-truncated lineage, no driver state."""
    from ..operators.graph import hits_scores

    edges = _trade_edges(_trade_lines(spark, sf_dir))
    return hits_scores(edges, iterations=2).select(
        F.col("node").cast("long").alias("node"),
        "hub_micro",
        "auth_micro",
    )


_SQL_BF_ITER = """
    d{K} AS (
      SELECT node, CAST(MIN(d) AS BIGINT) AS dist FROM (
        SELECT e.dst AS node, r.dist + e.cost AS d
        FROM d{P} r JOIN ce e ON e.src = r.node
        UNION ALL SELECT node, dist AS d FROM d{P}
      ) GROUP BY node
    )
"""


@query(
    "q_bellman_ford_trade",
    # graded round 10; rotated to the extra tier in round 11 (shortest-path /
    # centrality family stays graded via q_pagerank_trade + the newly
    # promoted q_betweenness_trade)
    extra=True,
    oracle=f"""
    WITH edges AS ({_SQL_EDGES}),
    ce AS (
      SELECT src, dst,
             CAST(FLOOR(1000000.0 / w) AS BIGINT) + 1 AS cost
      FROM edges
    ),
    d0 AS (SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist),
    {_SQL_BF_ITER.format(K=1, P=0)},
    {_SQL_BF_ITER.format(K=2, P=1)},
    {_SQL_BF_ITER.format(K=3, P=2)}
    SELECT node, dist FROM d3
    """,
)
def q_bellman_ford_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source shortest trade routes from nation 0: 3 Bellman-Ford
    relaxations over the nation trade graph with integer edge costs
    ``floor(1e6 / lineitem_count) + 1`` (stronger trade = cheaper hop) —
    the MIN-PLUS iterative-graph representative (operators/graph.py).
    All-long arithmetic, so the triple-unrolled oracle is value-exact
    with NO snapping device at all — the cleanest of the iterative
    oracles.

    Scale: the edge build is the q7 join shape (facts shuffle once,
    dims broadcast); each relaxation is a frontier⋈edges join + a
    map-side-combining MIN."""
    from ..operators.graph import bellman_ford

    edges = _trade_edges(_trade_lines(spark, sf_dir)).select(
        "src",
        "dst",
        (F.floor(F.lit(1000000.0) / F.col("w")).cast("long") + 1).alias("cost"),
    )
    return bellman_ford(edges, source=0, rounds=3).select(
        F.col("node").cast("long").alias("node"), "dist"
    )


_SQL_CS_EDGES = """
    SELECT DISTINCT c.c_custkey AS cust, s.s_suppkey + 1000000 AS supp
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
"""

_SQL_KCORE_ROUND = """
    k{R} AS (
      SELECT a AS node FROM e{P} GROUP BY a HAVING COUNT(*) >= 4
    ),
    e{R} AS (
      SELECT e.a, e.b FROM e{P} e
      JOIN k{R} x ON x.node = e.a
      JOIN k{R} y ON y.node = e.b
    )
"""


@query(
    "q_kcore_trade",
    extra=True,
    oracle=f"""
    WITH ce AS ({_SQL_CS_EDGES}),
    e0 AS (
      SELECT cust AS a, supp AS b FROM ce
      UNION ALL SELECT supp AS a, cust AS b FROM ce
    ),
    {_SQL_KCORE_ROUND.format(R=1, P=0)},
    {_SQL_KCORE_ROUND.format(R=2, P=1)},
    {_SQL_KCORE_ROUND.format(R=3, P=2)}
    SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS deg
    FROM e3 GROUP BY a
    """,
)
def q_kcore_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-core peeling of the bipartite customer-supplier trade graph
    (operators/graph.kcore_peel, 3 bounded rounds): customers with
    fewer than 4 supplier partners peel off first, which degrades
    supplier degrees and cascades — the degeneracy-core miner behind
    dense-community extraction. Supplier ids are namespaced +1e6. The
    triple-unrolled oracle replays every peel exactly (all-integer, no
    snapping device needed — the Bellman-Ford discipline).

    Scale: the edge build is the q7 join shape; each round is one
    map-side-combining degree agg + two semi-join restrictions on the
    (long, long) edge relation, lineage truncated per round."""
    from ..operators.graph import kcore_peel

    ce = (
        _trade_lines(spark, sf_dir)
        .select(
            F.col("c_custkey").alias("cust"),
            (F.col("s_suppkey") + 1000000).alias("supp"),
        )
        .distinct()
    )
    und = ce.select(
        F.col("cust").alias("a"), F.col("supp").alias("b")
    ).unionByName(ce.select(F.col("supp").alias("a"), F.col("cust").alias("b")))
    return kcore_peel(und, k=4, rounds=3).select(
        F.col("node").cast("long").alias("node"), "deg"
    )


@query(
    "q_clustering_coefficient",
    extra=True,
    oracle=f"""
    WITH edges AS ({_SQL_EDGES}),
    stats AS (
      SELECT CAST(SUM(w) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS ne
      FROM edges
    ),
    strong AS (
      SELECT src, dst FROM edges CROSS JOIN stats WHERE w * ne >= s
    ),
    und AS (
      SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      FROM strong WHERE src <> dst
    ),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
        SELECT a AS node FROM und UNION ALL SELECT b FROM und
      ) GROUP BY node HAVING COUNT(*) >= 2
    ),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM und e1
      JOIN und e2 ON e2.a = e1.b
      JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    ntri AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
        SELECT x AS node FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
      ) GROUP BY node
    )
    SELECT d.node, d.deg, COALESCE(t.n_tri, 0) AS n_tri,
           CAST((2 * (2 * COALESCE(t.n_tri, 0)) * 1000000
                   + d.deg * (d.deg - 1))
                // (2 * (d.deg * (d.deg - 1))) AS BIGINT) AS cc_ppm
    FROM deg d LEFT JOIN ntri t ON t.node = d.node
    """,
)
def q_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per nation over the STRONG trade
    graph (operators/graph.py:clustering_coefficient) — edges kept only
    at-or-above the mean edge weight (w·|E| >= Σw, integer-exact), so the
    closure structure stays non-degenerate as the full nation graph
    saturates with SF. Completes the graph family's transitivity axis
    (components: membership, PageRank/HITS: importance, triangles: counts,
    cc: normalized closure). PPM output via the half-up integer device —
    no float ratio crosses the engine boundary.

    Scale: the mean threshold is a 1-row broadcast crossJoin (no driver
    collect); everything downstream runs on the thresholded dim-sized
    edge relation (wedge-closure cost note in triangle_counts applies).
    """
    from ..operators.graph import clustering_coefficient

    edges = _trade_edges(_trade_lines(spark, sf_dir))
    stats = edges.agg(
        F.sum("w").cast("long").alias("s"),
        F.count(F.lit(1)).alias("ne"),
    )
    strong = (
        edges.crossJoin(F.broadcast(stats))
        .where(F.col("w") * F.col("ne") >= F.col("s"))
        .select("src", "dst")
    )
    return clustering_coefficient(strong).select(
        F.col("node").cast("long").alias("node"), "deg", "n_tri", "cc_ppm"
    )


def _spectral_oracle(iterations: int = 4) -> str:
    """Unrolled SQL replay of operators/graph.py:spectral_bipartition —
    the pagerank/kmeans unroll device applied to a deflated power
    iteration: exact-long matvec, division-free centering (n·x − Σx),
    one ROUND-snapped max-abs normalization per round."""
    head = f"""
    WITH edges AS MATERIALIZED ({_SQL_EDGES}),
    sym AS MATERIALIZED (
      SELECT a, b, CAST(SUM(w) AS BIGINT) AS w FROM (
        SELECT src AS a, dst AS b, w FROM edges WHERE src <> dst
        UNION ALL
        SELECT dst AS a, src AS b, w FROM edges WHERE src <> dst
      ) GROUP BY a, b
    ),
    deg AS MATERIALIZED (
      SELECT a AS node, CAST(SUM(w) AS BIGINT) AS deg FROM sym GROUP BY a
    ),
    consts AS MATERIALIZED (
      SELECT CAST(2 * MAX(deg) AS BIGINT) AS c, CAST(COUNT(*) AS BIGINT) AS n
      FROM deg
    ),
    h0 AS MATERIALIZED (
      SELECT node,
             CAST(md5_number_lower('spec-v1:' || CAST(node AS VARCHAR))
                  % 2147483647 % 2001 AS BIGINT) AS x
      FROM deg
    ),
    c0 AS MATERIALIZED (
      SELECT node, (SELECT n FROM consts) * x - (SELECT SUM(x) FROM h0) AS cv
      FROM h0
    ),
    v0 AS MATERIALIZED (
      SELECT node,
             CAST(ROUND(cv / GREATEST((SELECT MAX(ABS(cv)) FROM c0), 1)
                        * 1000000.0) AS BIGINT) AS v
      FROM c0
    )"""
    rounds = []
    for k in range(1, iterations + 1):
        p = k - 1
        rounds.append(f"""
    nb{k} AS MATERIALIZED (
      SELECT s.a AS node, CAST(SUM(s.w * vb.v) AS BIGINT) AS nv
      FROM sym s JOIN v{p} vb ON vb.node = s.b GROUP BY s.a
    ),
    mv{k} AS MATERIALIZED (
      SELECT d.node,
             ((SELECT c FROM consts) - d.deg) * v.v + COALESCE(nb.nv, 0) AS mv
      FROM deg d JOIN v{p} v ON v.node = d.node
      LEFT JOIN nb{k} nb ON nb.node = d.node
    ),
    c{k} AS MATERIALIZED (
      SELECT node,
             (SELECT n FROM consts) * mv - (SELECT SUM(mv) FROM mv{k}) AS cv
      FROM mv{k}
    ),
    v{k} AS MATERIALIZED (
      SELECT node,
             CAST(ROUND(cv / GREATEST((SELECT MAX(ABS(cv)) FROM c{k}), 1)
                        * 1000000.0) AS BIGINT) AS v
      FROM c{k}
    )""")
    tail = f"""
    SELECT CAST(node AS BIGINT) AS node, v AS v_scaled,
           CASE WHEN v >= 0 THEN 'A' ELSE 'B' END AS side
    FROM v{iterations}
    """
    return head + "," + ",".join(rounds) + tail


@query("q_spectral_partition", extra=True, oracle=_spectral_oracle(4))
def q_spectral_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral bipartition of the nation trade graph
    (operators/graph.py:spectral_bipartition): 4 deflated power-iteration
    rounds on the shifted Laplacian 2·maxdeg·I − L, sign of the final
    iterate = side — the eigen-analysis member of the graph family
    (components: connectivity, PageRank: centrality, triangles: closure,
    spectral: STRUCTURE). The iterate is exact-long except ONE snapped
    max-abs normalization per round, so the oracle unrolls all four
    rounds and the partition is value-adjudicated, not just shaped.

    Scale: per round one v⋈edges join + map-side partial sum (the
    pagerank contrib profile) and two 1-row broadcast aggregates; state
    is node-sized. More eigenvectors = deflate-and-repeat, same plan.
    """
    from ..operators.graph import spectral_bipartition

    edges = _trade_edges(_trade_lines(spark, sf_dir))
    return spectral_bipartition(edges, iterations=4)


def _boruvka_oracle(rounds: int = 2, merge_steps: int = 3) -> str:
    """Unrolled SQL replay of operators/graph.py:boruvka_components —
    per round: crossing filter, per-label (w, a, b)-ordered min edge,
    DISTINCT chosen set, then ``merge_steps`` min-label steps over the
    chosen pseudo-forest. MATERIALIZED throughout (every level is
    multi-referenced — the spectral-oracle lesson)."""
    parts = [f"""
    WITH edges AS MATERIALIZED ({_SQL_EDGES}),
    und AS MATERIALIZED (
      SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b,
             CAST(MIN(w) AS BIGINT) AS w
      FROM edges WHERE src <> dst GROUP BY 1, 2
    ),
    nodes AS MATERIALIZED (
      SELECT DISTINCT node FROM (
        SELECT a AS node FROM und UNION ALL SELECT b FROM und
      )
    ),
    s0_{merge_steps} AS MATERIALIZED (SELECT node, node AS comp FROM nodes)"""]
    for k in range(1, rounds + 1):
        prev = f"s{k - 1}_{merge_steps}"
        parts.append(f"""
    cross{k} AS MATERIALIZED (
      SELECT u.a, u.b, u.w, la.comp AS ca, lb.comp AS cb
      FROM und u
      JOIN {prev} la ON la.node = u.a
      JOIN {prev} lb ON lb.node = u.b
      WHERE la.comp <> lb.comp
    ),
    cand{k} AS MATERIALIZED (
      SELECT ca AS l, a, b, w FROM cross{k}
      UNION ALL
      SELECT cb AS l, a, b, w FROM cross{k}
    ),
    chosen{k} AS MATERIALIZED (
      SELECT DISTINCT a, b FROM (
        SELECT l, a, b,
               ROW_NUMBER() OVER (PARTITION BY l ORDER BY w, a, b) AS rn
        FROM cand{k}
      ) WHERE rn = 1
    ),
    s{k}_0 AS MATERIALIZED (SELECT node, comp FROM {prev})""")
        for j in range(1, merge_steps + 1):
            parts.append(f"""
    s{k}_{j} AS MATERIALIZED (
      SELECT m.node, LEAST(m.comp, COALESCE(nb.nmin, m.comp)) AS comp
      FROM s{k}_{j - 1} m LEFT JOIN (
        SELECT node, MIN(nc) AS nmin FROM (
          SELECT c.a AS node, mm.comp AS nc
          FROM chosen{k} c JOIN s{k}_{j - 1} mm ON mm.node = c.b
          UNION ALL
          SELECT c.b AS node, mm.comp AS nc
          FROM chosen{k} c JOIN s{k}_{j - 1} mm ON mm.node = c.a
        ) GROUP BY node
      ) nb ON nb.node = m.node
    )""")
    sel = ", ".join(
        f"CAST(s{k}_{merge_steps}.comp AS BIGINT) AS comp_r{k}"
        for k in range(1, rounds + 1)
    )
    joins = " ".join(
        f"JOIN s{k}_{merge_steps} ON s{k}_{merge_steps}.node = n.node"
        for k in range(1, rounds + 1)
    )
    parts.append(f"""
    SELECT CAST(n.node AS BIGINT) AS node, {sel}
    FROM nodes n {joins}
    """)
    return ",".join(parts[:1]) + "," + ",".join(p for p in parts[1:-1]) + parts[-1]


@query("q_mst_boruvka", extra=True, oracle=_boruvka_oracle(2, 3))
def q_mst_boruvka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Borůvka minimum-spanning-forest contraction over the weighted
    nation trade graph (operators/graph.py:boruvka_components): two
    rounds of per-component minimum-outgoing-edge selection under the
    deterministic (w, a, b) total order, components merged by 3 min-label
    steps per round, labels after EACH round adjudicated — the
    greedy/matroid member of the graph family. At 100 TB this is the
    skeleton pass behind single-linkage clustering and network-cost
    planning; per round one labels⋈edges join + one map-side-combinable
    per-label min — the pagerank cost profile with a vanishing chosen-
    edge relation.
    """
    from ..operators.graph import boruvka_components

    edges = _trade_edges(_trade_lines(spark, sf_dir))
    return boruvka_components(edges, rounds=2, merge_steps=3)


_SQL_PPR_ITER = """
    p{K} AS MATERIALIZED (
      SELECT n2.node, n2.is_seed,
             CAST(n2.is_seed * (SELECT base FROM pconsts)
                  + COALESCE(SUM(c), 0) AS BIGINT) AS rank_nano
      FROM pnodes n2 LEFT JOIN (
        SELECT e.dst AS node,
               CAST(ROUND(r.rank_nano * 0.85 * e.w / o.out_w) AS BIGINT) AS c
        FROM edges e
        JOIN outw o ON o.src = e.src
        JOIN p{P} r ON r.node = e.src
      ) contrib ON contrib.node = n2.node
      GROUP BY n2.node, n2.is_seed
    )
"""


@query(
    "q_personalized_pagerank",
    extra=True,
    oracle=f"""
    WITH edges AS MATERIALIZED ({_SQL_EDGES}),
    outw AS MATERIALIZED (SELECT src, SUM(w) AS out_w FROM edges GROUP BY src),
    seeds AS (
      SELECT n_nationkey AS node FROM nation WHERE n_regionkey = 0
    ),
    pnodes AS MATERIALIZED (
      SELECT n.node,
             CASE WHEN s.node IS NOT NULL THEN 1 ELSE 0 END AS is_seed
      FROM (
        SELECT DISTINCT node FROM (
          SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges
        )
      ) n LEFT JOIN seeds s ON s.node = n.node
    ),
    pconsts AS (
      SELECT CAST(ROUND((1.0 - 0.85) * 1000000000 / SUM(is_seed)) AS BIGINT)
               AS base,
             CAST(ROUND(1000000000.0 / SUM(is_seed)) AS BIGINT) AS r_init
      FROM pnodes
    ),
    p0 AS MATERIALIZED (
      SELECT node, is_seed,
             CAST(is_seed * (SELECT r_init FROM pconsts) AS BIGINT)
               AS rank_nano
      FROM pnodes
    ),
    {_SQL_PPR_ITER.format(K=1, P=0)},
    {_SQL_PPR_ITER.format(K=2, P=1)},
    {_SQL_PPR_ITER.format(K=3, P=2)}
    SELECT CAST(node AS BIGINT) AS node, CAST(is_seed AS INTEGER) AS is_seed,
           rank_nano
    FROM p3
    """,
)
def q_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from the region-0 nations as the seed set
    (operators/graph.py:personalized_pagerank): the teleport mass
    restarts at the seeds only, so rank = proximity to the seed set —
    the graph-based RECOMMENDATION primitive ('trade partners closest to
    my region') beside global PageRank's topic-free centrality. Same
    nano-snap determinism contract, triple-unrolled seed-conditional
    replay, every iterate value-adjudicated.

    Scale: identical per-iteration profile to q_pagerank_trade; the seed
    flag is one broadcast semi-join on the node list.
    """
    from ..operators.graph import personalized_pagerank

    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    edges = _trade_edges(_trade_lines(spark, sf_dir))
    seeds = nation.where(F.col("n_regionkey") == 0).select(
        F.col("n_nationkey").alias("node")
    )
    return personalized_pagerank(edges, seeds, iterations=3)


def _scc_oracle(rounds: int) -> str:
    """Unrolled DuckDB replay of operators/graph.py:scc_first_peel over
    the sparsified trade graph: ``rounds`` forward-min levels, the
    color-preserving subgraph, ``rounds`` reaches-root levels. Every
    level is AS MATERIALIZED — f_t and r_t are each referenced twice
    (carry + update join), the exponential re-inline trap."""
    head = """
    WITH e0 AS MATERIALIZED (
      SELECT c_nationkey AS src, s_nationkey AS dst, COUNT(*) AS w
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY 1, 2
    ),
    agg AS (SELECT SUM(w) AS tot, COUNT(*) AS n FROM e0),
    e AS MATERIALIZED (
      SELECT DISTINCT src, dst FROM e0, agg
      WHERE src <> dst AND w * n >= tot
    ),
    nodes AS MATERIALIZED (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM e UNION ALL SELECT dst FROM e
      )
    ),
    f0 AS MATERIALIZED (SELECT node, node AS f FROM nodes)"""
    f_tpl = """,
    f{n} AS MATERIALIZED (
      SELECT p.node, LEAST(p.f, COALESCE(m.nmin, p.f)) AS f
      FROM f{t} p LEFT JOIN (
        SELECT e.dst AS node, MIN(p2.f) AS nmin
        FROM e JOIN f{t} p2 ON e.src = p2.node GROUP BY e.dst
      ) m USING (node)
    )"""
    parts = [head]
    for t in range(rounds):
        parts.append(f_tpl.format(t=t, n=t + 1))
    parts.append(""",
    ecol AS MATERIALIZED (
      SELECT e.src, e.dst
      FROM e
      JOIN f{R} fs ON e.src = fs.node
      JOIN f{R} fd ON e.dst = fd.node
      WHERE fs.f = fd.f
    ),
    r0 AS MATERIALIZED (
      SELECT node, f, CAST(node = f AS INT) AS r FROM f{R}
    )""".format(R=rounds))
    r_tpl = """,
    r{n} AS MATERIALIZED (
      SELECT p.node, p.f, GREATEST(p.r, COALESCE(u.hit, 0)) AS r
      FROM r{t} p LEFT JOIN (
        SELECT DISTINCT ecol.src AS node, 1 AS hit
        FROM ecol JOIN r{t} p2 ON ecol.dst = p2.node AND p2.r = 1
      ) u USING (node)
    )"""
    for t in range(rounds):
        parts.append(r_tpl.format(t=t, n=t + 1))
    parts.append("""
    SELECT CAST(node AS BIGINT) AS node,
           CAST(f AS BIGINT) AS color,
           CAST(CASE WHEN r = 1 THEN f ELSE -1 END AS BIGINT) AS scc_id
    FROM r{R}
    """.format(R=rounds))
    return "".join(parts)


@query("q_scc_trade", extra=True, oracle=_scc_oracle(4))
def q_scc_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components — first coloring peel
    (operators/graph.py:scc_first_peel) — over the STRONG-ROUTE trade
    graph: the nation→nation edge relation of q_pagerank_trade kept only
    where an edge's weight is at least the global mean (w*n >= tot in
    exact integers — no float average), self-loops dropped. The directed
    completion of the components family: dedup_components answers
    undirected togetherness, this answers mutual reachability. 4
    forward-min rounds + 4 reaches-root rounds (fixpoint at these graph
    diameters — gate-tested against a deeper run in tests/test_graph.py).
    """
    from ..operators.graph import scc_first_peel

    edges = _strong_edges(_trade_edges(_trade_lines(spark, sf_dir)))
    return scc_first_peel(edges.select("src", "dst"), rounds=4)


_SQL_EDGES_OLD = """
    SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
           CAST(COUNT(*) AS BIGINT) AS w
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    WHERE o.o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
    GROUP BY 1, 2
"""

_SQL_ITER_NEW = """
    w{K} AS (
      SELECT n2.node,
             CAST((SELECT base FROM consts_new)
                  + COALESCE(SUM(c), 0) AS BIGINT) AS rank_nano
      FROM nodes_new n2 LEFT JOIN (
        SELECT e.dst AS node,
               CAST(ROUND(r.rank_nano * 0.85 * e.w / o.out_w) AS BIGINT) AS c
        FROM edges_new e
        JOIN outw_new o ON o.src = e.src
        JOIN w{P} r ON r.node = e.src
      ) contrib ON contrib.node = n2.node
      GROUP BY n2.node
    )
"""


@query(
    "q_pagerank_warm_start",
    extra=True,
    oracle=f"""
    WITH edges AS MATERIALIZED ({_SQL_EDGES_OLD}),
    outw AS (SELECT src, SUM(w) AS out_w FROM edges GROUP BY src),
    nodes AS (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges
      )
    ),
    consts AS (
      SELECT CAST(ROUND((1.0 - 0.85) * 1000000000 / COUNT(*)) AS BIGINT)
               AS base,
             CAST(ROUND(1000000000.0 / COUNT(*)) AS BIGINT) AS r_init
      FROM nodes
    ),
    r0 AS (
      SELECT node, (SELECT r_init FROM consts) AS rank_nano FROM nodes
    ),
    {_SQL_ITER.format(K=1, P=0)},
    {_SQL_ITER.format(K=2, P=1)},
    {_SQL_ITER.format(K=3, P=2)},
    edges_new AS MATERIALIZED ({_SQL_EDGES}),
    outw_new AS (SELECT src, SUM(w) AS out_w FROM edges_new GROUP BY src),
    nodes_new AS (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM edges_new UNION ALL SELECT dst FROM edges_new
      )
    ),
    consts_new AS (
      SELECT CAST(ROUND((1.0 - 0.85) * 1000000000 / COUNT(*)) AS BIGINT)
               AS base,
             CAST(ROUND(1000000000.0 / COUNT(*)) AS BIGINT) AS r_init
      FROM nodes_new
    ),
    w0 AS (
      SELECT n.node,
             CAST(COALESCE(r.rank_nano,
                           (SELECT r_init FROM consts_new)) AS BIGINT)
               AS rank_nano
      FROM nodes_new n LEFT JOIN r3 r ON r.node = n.node
    ),
    {_SQL_ITER_NEW.format(K=1, P=0)}
    SELECT CAST(node AS BIGINT) AS node, rank_nano FROM w1
    """,
)
def q_pagerank_warm_start(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental PageRank by WARM START (operators/graph.py:
    pagerank_resume): ranks computed on the pre-1999 trade graph resume
    for ONE round on the full graph instead of re-running the whole
    iteration from the uniform init — the incremental-maintenance
    pattern for drifting graphs (per-round cost is unchanged, so the
    saving is exactly the dropped rounds; at 100 TB rounds are full
    scans). Nodes that only trade post-cutoff start at the new graph's
    uniform init. Both phases replay in the unrolled oracle —
    3 old-graph levels + the warm level — hash-exact.
    """
    from ..operators.graph import pagerank, pagerank_resume

    lines = _trade_lines(spark, sf_dir)
    old_edges = _trade_edges(lines.where(F.col("o_orderdate") < "1999-01-01"))
    all_edges = _trade_edges(lines)
    r_old = pagerank(old_edges, iterations=3)
    return pagerank_resume(all_edges, r_old, iterations=1)


_SQL_ITER_DANGLING = """
    d{K} AS (
      SELECT CAST(COALESCE(SUM(rank_nano), 0) AS BIGINT) AS dm
      FROM r{P} WHERE node NOT IN (SELECT DISTINCT src FROM edges)
    ),
    r{K} AS (
      SELECT n2.node,
             CAST((SELECT base FROM consts) + COALESCE(SUM(c), 0)
                  + CAST(ROUND((SELECT dm FROM d{K}) * 0.85
                               / (SELECT cnt FROM consts)) AS BIGINT)
                  AS BIGINT) AS rank_nano
      FROM nodes n2 LEFT JOIN (
        SELECT e.dst AS node,
               CAST(ROUND(r.rank_nano * 0.85 * e.w / o.out_w) AS BIGINT) AS c
        FROM edges e
        JOIN outw o ON o.src = e.src
        JOIN r{P} r ON r.node = e.src
      ) contrib ON contrib.node = n2.node
      GROUP BY n2.node
    )
"""


@query(
    "q_pagerank_dangling",
    extra=True,
    oracle=f"""
    WITH e0 AS MATERIALIZED ({_SQL_EDGES}),
    ranked AS (
      SELECT src, dst, w,
             ROW_NUMBER() OVER (PARTITION BY src ORDER BY w DESC, dst) AS rn
      FROM e0 WHERE src <> dst
    ),
    edges AS MATERIALIZED (
      SELECT src, dst, w FROM ranked WHERE rn = 1 AND src % 2 = 0
    ),
    outw AS (SELECT src, SUM(w) AS out_w FROM edges GROUP BY src),
    nodes AS (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges
      )
    ),
    consts AS (
      SELECT CAST(ROUND((1.0 - 0.85) * 1000000000 / COUNT(*)) AS BIGINT)
               AS base,
             CAST(ROUND(1000000000.0 / COUNT(*)) AS BIGINT) AS r_init,
             COUNT(*) AS cnt
      FROM nodes
    ),
    r0 AS (
      SELECT node, (SELECT r_init FROM consts) AS rank_nano FROM nodes
    ),
    {_SQL_ITER_DANGLING.format(K=1, P=0)},
    {_SQL_ITER_DANGLING.format(K=2, P=1)},
    {_SQL_ITER_DANGLING.format(K=3, P=2)}
    SELECT CAST(node AS BIGINT) AS node, rank_nano FROM r3
    """,
)
def q_pagerank_dangling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank with dangling-mass redistribution (operators/graph.py:
    pagerank_dangling) over the EXPORT graph of each even-keyed nation's
    single strongest trade route — a construction that GUARANTEES sinks
    (odd nations only ever appear as destinations), because that is the
    regime the base operator's documented mass leak bites in (mean-
    threshold sparsification left zero danglers at every SF — the
    redistribution term would have been identically 0, a semantic
    vacuity the round-7 lesson forbids). Each round the sinks' total
    rank returns to every node as one snapped broadcast scalar, so total
    mass conserves (gate-tested) while the per-round join/agg shape is
    unchanged. Triple-unrolled oracle with a per-level dangling-mass
    scalar CTE — hash-exact.
    """
    from ..operators.graph import pagerank_dangling

    e0 = _trade_edges(_trade_lines(spark, sf_dir))
    from pyspark.sql import Window as W

    rn = F.row_number().over(
        W.partitionBy("src").orderBy(F.col("w").desc(), "dst")
    )
    edges = (
        e0.where(F.col("src") != F.col("dst"))
        .withColumn("rn", rn)
        .where((F.col("rn") == 1) & (F.col("src") % 2 == 0))
        .select("src", "dst", "w")
    )
    return pagerank_dangling(edges, iterations=3)


def _ktruss_oracle(k: int, rounds: int) -> str:
    """Unrolled DuckDB replay of operators/graph.py:ktruss_edges over the
    top-2-routes trade graph. MATERIALIZED per level — e_t feeds the
    adjacency (twice), the support join (twice) and the carry."""
    head = """
    WITH e0raw AS MATERIALIZED (
      SELECT c_nationkey AS src, s_nationkey AS dst, COUNT(*) AS w
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY 1, 2
    ),
    top2 AS (
      SELECT src, dst FROM (
        SELECT src, dst,
               ROW_NUMBER() OVER (PARTITION BY src ORDER BY w DESC, dst)
                 AS rn
        FROM e0raw WHERE src <> dst
      ) WHERE rn <= 3
    ),
    e0 AS MATERIALIZED (
      SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      FROM top2
    )"""
    lvl = """,
    adj{t} AS MATERIALIZED (
      SELECT a AS u, b AS v FROM e{t}
      UNION ALL SELECT b, a FROM e{t}
    ),
    sup{t} AS (
      SELECT e.a, e.b, COUNT(*) AS c
      FROM e{t} e
      JOIN adj{t} x ON x.u = e.a
      JOIN adj{t} y ON y.u = e.b AND y.v = x.v
      GROUP BY e.a, e.b
    ),
    e{n} AS MATERIALIZED (
      SELECT e.a, e.b, CAST(COALESCE(s.c, 0) AS BIGINT) AS support
      FROM e{t} e LEFT JOIN sup{t} s ON s.a = e.a AND s.b = e.b
      WHERE COALESCE(s.c, 0) >= KMIN
    )"""
    parts = [head]
    for t in range(rounds):
        parts.append(lvl.format(t=t, n=t + 1).replace("KMIN", str(k - 2)))
    parts.append(
        "\n    SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b, "
        f"support FROM e{rounds}\n    "
    )
    return "".join(parts)


@query("q_ktruss_trade", extra=True, oracle=_ktruss_oracle(4, 4))
def q_ktruss_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-truss of the top-3-routes trade graph (operators/graph.py:
    ktruss_edges) — the EDGE-cohesion member completing the graph
    family's density axis: k-core peels by node degree, triangle counts
    measure closure, the truss keeps only edges embedded in >= k-2
    surviving triangles (the standard community-core definition;
    Cohen 2008). Four peeling rounds, unrolled MATERIALIZED oracle,
    convergence gate-tested against a deeper run in tests/test_graph.py.
    """
    from pyspark.sql import Window as W

    from ..operators.graph import ktruss_edges

    e0 = _trade_edges(_trade_lines(spark, sf_dir))
    rn = F.row_number().over(
        W.partitionBy("src").orderBy(F.col("w").desc(), "dst")
    )
    top3 = (
        e0.where(F.col("src") != F.col("dst"))
        .withColumn("rn", rn)
        .where(F.col("rn") <= 3)
        .select("src", "dst")
    )
    return ktruss_edges(top3, k=4, rounds=4)


@query(
    "q_link_prediction",
    extra=True,
    oracle=f"""
    WITH edges AS ({_SQL_EDGES}),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS ne, CAST(SUM(w) AS BIGINT) AS sw
      FROM edges
    ),
    strong AS (SELECT src, dst FROM edges, tot WHERE w * ne >= sw),
    und AS (
      SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      FROM strong WHERE src <> dst
    ),
    adj AS (SELECT a AS z, b AS n FROM und UNION ALL SELECT b, a FROM und),
    deg AS (SELECT z, CAST(COUNT(*) AS BIGINT) AS deg FROM adj GROUP BY z),
    nbr AS (SELECT adj.z, adj.n, deg.deg FROM adj JOIN deg USING (z)),
    wedge AS (
      SELECT l.z, l.n AS u, r.n AS v, l.deg
      FROM nbr l JOIN adj r ON r.z = l.z AND l.n < r.n
    ),
    cand AS (
      SELECT w.u, w.v, w.deg FROM wedge w
      WHERE NOT EXISTS (
        SELECT 1 FROM und e WHERE e.a = w.u AND e.b = w.v
      )
    )
    SELECT CAST(u AS BIGINT) AS u, CAST(v AS BIGINT) AS v,
           CAST(COUNT(*) AS BIGINT) AS cn,
           CAST(SUM(CAST(ROUND(1000000.0 / LN(deg)) AS BIGINT)) AS BIGINT)
             AS aa_micro
    FROM cand GROUP BY u, v
    """,
)
def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the mean-thresholded trade graph
    (operators/graph.py:link_prediction_scores): common-neighbor and
    Adamic-Adar scores for every non-adjacent nation pair with at least
    one shared strong trading partner — the graph-task class the
    centrality/closure family doesn't cover (predicting MISSING edges:
    recommender candidates, KG completion). Thresholding keeps edges
    with w >= mean weight via the cross-multiplied integer comparison
    (w * n_edges >= sum_w — no float mean), leaving a sparse graph whose
    non-edges are meaningful. Adamic-Adar's irrational 1/ln(deg) terms
    ROUND-snap to micro-units before the order-free sum.

    Scale: the edge build is the q7 fact join; everything after runs on
    the nation-level relation. The wedge self-join's candidate volume is
    sum-of-deg^2 — on power-law graphs cap hub degrees upstream exactly
    like the dedup posting joins cap df."""
    from ..operators.graph import link_prediction_scores

    edges = _trade_edges(_trade_lines(spark, sf_dir))
    # edges feeds the 1-row total AND the threshold filter: checkpoint so
    # the q7 fact join runs once, not once per consumer
    edges = edges.localCheckpoint()
    tot = F.broadcast(
        edges.agg(
            F.count(F.lit(1)).alias("ne"), F.sum("w").alias("sw")
        )
    )
    strong = (
        edges.crossJoin(tot)
        .where(F.col("w") * F.col("ne") >= F.col("sw"))
        .select("src", "dst")
    )
    return link_prediction_scores(strong).select(
        F.col("u").cast("long").alias("u"),
        F.col("v").cast("long").alias("v"),
        "cn",
        "aa_micro",
    )


@query(
    "q_graph_modularity",
    extra=True,
    oracle="""
    WITH ce AS (
      SELECT DISTINCT c.c_custkey AS cust, s.s_suppkey AS supp,
             c.c_nationkey AS cn, s.s_nationkey AS sn
      FROM customer c
      JOIN orders o ON o.o_custkey = c.c_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
    ),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM ce),
    intra AS (
      SELECT cn AS community, CAST(COUNT(*) AS BIGINT) AS e_c
      FROM ce WHERE cn = sn GROUP BY 1
    ),
    degsum AS (
      SELECT community, CAST(COUNT(*) AS BIGINT) AS d_c FROM (
        SELECT cn AS community FROM ce
        UNION ALL SELECT sn FROM ce
      ) GROUP BY 1
    )
    SELECT d.community, CAST(COALESCE(i.e_c, 0) AS BIGINT) AS e_c, d.d_c,
           m.m,
           CAST(4 * m.m * COALESCE(i.e_c, 0) - d.d_c * d.d_c AS BIGINT)
             AS q_contrib_num
    FROM degsum d LEFT JOIN intra i ON i.community = d.community
    CROSS JOIN m
    """,
)
def q_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman MODULARITY of the nation partition over the bipartite
    customer-supplier trade graph — the community-QUALITY scorer the
    community family (components, k-core, k-truss, SCC, spectral
    bipartition) was missing: given an assignment, how much denser are
    intra-community edges than the degree-preserving random expectation?
    Q = Σ_c (e_c/m − (d_c/2m)²); everything is emitted DIVISION-FREE as
    Q·4m² per community: q_contrib_num = 4m·e_c − d_c², with e_c (intra
    edges), d_c (degree sum) and m alongside, so the float Q reconstructs
    losslessly and the relation hash-matches with no snapping device
    (the q_autocorrelation discipline). Σ q_contrib_num < 4m² always;
    positive contributions mark nations whose members trade internally
    more than chance.

    Scale: the edge build is the q7 join shape (the only row-scale
    work); intra/degree aggs run on the edge relation keyed by ~25
    nations — salt-free because the per-key payload is a count; m rides
    a 1-row broadcast cross join, never a driver collect.
    """
    ce = (
        _trade_lines(spark, sf_dir)
        .select(
            "c_custkey",
            "s_suppkey",
            F.col("c_nationkey").alias("cn"),
            F.col("s_nationkey").alias("sn"),
        )
        .distinct()
        .localCheckpoint()  # m, intra and degsum all read it
    )
    from ..operators.graph import modularity_contributions

    return modularity_contributions(ce)


@query(
    "q_temporal_wedges",
    extra=True,
    oracle="""
    WITH e AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s,
             CAST(date_diff('day', DATE '1970-01-01', o.o_orderdate)
                  AS BIGINT) AS d
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    w AS (
      SELECT a.s, a.c AS c1, b.c AS c2
      FROM e a JOIN e b
        ON b.s = a.s AND b.c <> a.c
       AND b.d >= a.d AND b.d <= a.d + 7
    )
    SELECT s AS s_suppkey, CAST(COUNT(*) AS BIGINT) AS n_wedges,
           CAST(COUNT(DISTINCT c1) AS BIGINT) AS n_src_customers
    FROM w GROUP BY 1
    """,
)
def q_temporal_wedges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-RESPECTING temporal-motif counting — the temporal member of
    the graph-mining family (q_clustering_coefficient / link prediction
    count STATIC wedges; this counts wedges whose edges occur in ORDER
    within a window, the burst-co-purchase / cascade primitive of
    temporal graph mining): ordered customer pairs hitting the same
    supplier within 7 days. The window join runs as the LOSSLESS binned
    range join (q_range_bin_join's device): 7-day bins, each edge probes
    its own and the next bin — a 0..7-day successor always lands there —
    so candidates are bounded per (supplier, bin), never per supplier.
    The oracle replays the plain date-range semantics (bin probing is
    plan shape, not semantics).

    Scale: the edge build is the q7 join shape; the wedge join keys on
    (supplier, bin) with per-bin bounded fan-out; per-supplier counts
    are one map-side-combined groupBy.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    e = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            F.col("o_custkey").alias("c"),
            F.col("l_suppkey").alias("s"),
            F.datediff("o_orderdate", F.lit("1970-01-01").cast("date"))
            .cast("long")
            .alias("d"),
        )
        .distinct()
        .localCheckpoint()  # both sides of the wedge join
    )
    from ..operators.graph import temporal_wedges

    return temporal_wedges(e).select(
        F.col("s").alias("s_suppkey"), "n_wedges", "n_src_customers"
    )


def _katz_oracle(rounds: int = 3) -> str:
    """Unrolled replay of the β = 1/8 Katz recursion in PURE integer
    arithmetic: x' = 1e9 + (Σ_in x) // 8 — the one division is an exact
    integer floor-div both engines define identically, so no snapping
    device is needed anywhere."""
    head = f"""
    WITH ce AS ({_SQL_CS_EDGES}),
    e AS MATERIALIZED (
      SELECT cust AS src, supp AS dst FROM ce
      UNION ALL SELECT supp AS src, cust AS dst FROM ce
    ),
    nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM e),
    x0 AS MATERIALIZED (
      SELECT node, CAST(1000000000 AS BIGINT) AS x FROM nodes
    )"""
    rnd = """,
    x{R} AS MATERIALIZED (
      SELECT n.node,
             CAST(1000000000
                  + COALESCE(SUM(p.x), 0) // 8 AS BIGINT) AS x
      FROM nodes n
      LEFT JOIN e ON e.dst = n.node
      LEFT JOIN x{P} p ON p.node = e.src
      GROUP BY n.node
    )"""
    body = "".join(rnd.format(R=r, P=r - 1) for r in range(1, rounds + 1))
    tail = """
    SELECT node, x AS katz_nano FROM x{M}
    """.format(M=rounds)
    return head + body + tail


@query("q_katz_centrality", extra=True, oracle=_katz_oracle(3))
def q_katz_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KATZ centrality over the undirected trade graph — the
    attenuated-walk member of the centrality family (degree counts
    1-hop, PageRank normalizes by out-degree; Katz sums ALL walks with
    β^length damping, so well-connected-to-well-connected nodes rise
    even at equal degree): 3 unrolled rounds of x' = 1 + β·Aᵀx with
    β = 1/8, kept in PURE INTEGER nano arithmetic (the one division is
    an exact floor-div — no snapping device at all, the cleanest member
    of the iterative-nano family). β < 1/λ_max territory keeps the
    series contractive.

    Scale: per round one edge⋈x join + a map-side-combined node agg —
    the pagerank shape exactly; state is node-sized nano longs.
    """
    ce = (
        _trade_lines(spark, sf_dir)
        .select(
            F.col("c_custkey").alias("cust"),
            (F.col("s_suppkey") + 1000000).alias("supp"),
        )
        .distinct()
    )
    e = (
        ce.select(F.col("cust").alias("src"), F.col("supp").alias("dst"))
        .unionByName(
            ce.select(F.col("supp").alias("src"), F.col("cust").alias("dst"))
        )
        .localCheckpoint()  # read every round
    )
    nodes = e.select(F.col("src").alias("node")).distinct().localCheckpoint()
    x = nodes.select("node", F.lit(1_000_000_000).cast("long").alias("x"))
    from ..functions.scale import loop_ckpt_lazy, loop_rounds

    for _ in range(loop_rounds(3)):
        inc = (
            e.join(
                x.hint("shuffle_hash").withColumnRenamed("node", "src"), "src"
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("x").alias("xin"))
        )
        x = loop_ckpt_lazy(
            nodes.join(F.broadcast(inc), "node", "left").select(
                "node",
                (
                    F.lit(1_000_000_000)
                    + F.floor(F.coalesce("xin", F.lit(0)) / 8)
                )
                .cast("long")
                .alias("x"),
            )
        )
    return x.select("node", F.col("x").alias("katz_nano"))


@query(
    "q_rich_club",
    extra=True,
    oracle=f"""
    WITH ce AS ({_SQL_CS_EDGES}),
    und AS (SELECT cust AS a, supp AS b FROM ce),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
        SELECT a AS node FROM und UNION ALL SELECT b FROM und
      ) GROUP BY 1
    ),
    ks(k) AS (VALUES (2), (4), (8), (16), (32), (64), (128), (256)),
    club AS (
      SELECT k.k, d.node FROM ks k JOIN deg d ON d.deg > k.k
    ),
    nk AS (
      SELECT k, CAST(COUNT(*) AS BIGINT) AS n_k FROM club GROUP BY 1
    ),
    ek AS (
      SELECT c1.k, CAST(COUNT(*) AS BIGINT) AS e_k
      FROM und u
      JOIN club c1 ON c1.node = u.a
      JOIN club c2 ON c2.node = u.b AND c2.k = c1.k
      GROUP BY 1
    )
    SELECT nk.k, nk.n_k, CAST(COALESCE(ek.e_k, 0) AS BIGINT) AS e_k,
           CAST(nk.n_k * (nk.n_k - 1) AS BIGINT) AS max2_k
    FROM nk LEFT JOIN ek ON ek.k = nk.k
    """,
)
def q_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RICH-CLUB coefficient ladder over the bipartite trade graph — the
    hub-interconnection diagnostic the centrality family reads off
    (does the well-connected core trade preferentially with ITSELF?):
    for each degree threshold k, the subgraph induced on nodes of
    degree > k yields φ(k) = 2·e_k/(n_k(n_k−1)), emitted division-free
    as (k, n_k, e_k, max2_k = n_k(n_k−1)). The doubling k-ladder (2..256,
    spanning every SF's degree range) is a bounded broadcast; membership and induced-edge counting are two
    joins keyed on node / (node, k).

    Scale: degree census is the only row-scale agg; the ladder fan-out
    is x8 on the node census, and induced edges restrict the edge
    relation through two broadcastable membership joins.
    """
    und = (
        _trade_lines(spark, sf_dir)
        .select(
            F.col("c_custkey").alias("a"),
            (F.col("s_suppkey") + 1000000).alias("b"),
        )
        .distinct()
        .localCheckpoint()  # degree census + induced-edge count
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    ks = spark.createDataFrame(
        [(2,), (4,), (8,), (16,), (32,), (64,), (128,), (256,)], "k long"
    )
    club = ks.join(deg, deg["deg"] > ks["k"]).select("k", "node")
    club = club.localCheckpoint()  # n_k census + two membership joins
    nk = club.groupBy("k").agg(F.count(F.lit(1)).cast("long").alias("n_k"))
    c1 = club.select(F.col("k").alias("k1"), F.col("node").alias("a"))
    c2 = club.select(F.col("k").alias("k2"), F.col("node").alias("b2"))
    ek = (
        und.join(F.broadcast(c1), "a")
        .join(
            F.broadcast(c2),
            (F.col("b") == F.col("b2")) & (F.col("k2") == F.col("k1")),
        )
        .groupBy(F.col("k1").alias("k"))
        .agg(F.count(F.lit(1)).cast("long").alias("e_k"))
    )
    return nk.join(F.broadcast(ek), "k", "left").select(
        "k",
        "n_k",
        F.coalesce("e_k", F.lit(0)).cast("long").alias("e_k"),
        (F.col("n_k") * (F.col("n_k") - 1)).cast("long").alias("max2_k"),
    )


def _betweenness_oracle(levels: int = 4) -> str:
    """Unrolled replay of operators/graph.py:betweenness_exact on the
    mean-thresholded trade graph: multi-source BFS as MATERIALIZED
    frontier/cumulative levels (each referenced twice — the exponential
    re-inline trap), then the pair-counting triple join with per-pair
    half-up micro snaps."""
    head = """
    WITH e0 AS MATERIALIZED (
      SELECT c_nationkey AS src, s_nationkey AS dst, COUNT(*) AS w
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY 1, 2
    ),
    agg AS (SELECT SUM(w) AS tot, COUNT(*) AS n FROM e0),
    e AS MATERIALIZED (
      SELECT DISTINCT src, dst FROM e0, agg
      WHERE src <> dst AND w * n >= tot
    ),
    nodes AS MATERIALIZED (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM e UNION ALL SELECT dst FROM e
      )
    ),
    f0 AS MATERIALIZED (
      SELECT node AS s, node AS v, 0 AS d, CAST(1 AS BIGINT) AS sig
      FROM nodes
    ),
    d0 AS MATERIALIZED (SELECT * FROM f0)"""
    lvl = """,
    f{K} AS MATERIALIZED (
      SELECT f.s, e.dst AS v, {K} AS d, CAST(SUM(f.sig) AS BIGINT) AS sig
      FROM f{P} f JOIN e ON e.src = f.v
      WHERE NOT EXISTS (
        SELECT 1 FROM d{P} dd WHERE dd.s = f.s AND dd.v = e.dst
      )
      GROUP BY 1, 2
    ),
    d{K} AS MATERIALIZED (
      SELECT * FROM d{P} UNION ALL SELECT * FROM f{K}
    )"""
    body = "".join(lvl.format(K=k, P=k - 1) for k in range(1, levels + 1))
    return head + body + f"""
    SELECT n.node,
           CAST(COALESCE(t.bc, 0) AS BIGINT) AS bc_micro
    FROM nodes n LEFT JOIN (
      SELECT a.v AS node,
             CAST(SUM((2 * a.sig * b.sig * 1000000 + c.sig)
                      // (2 * c.sig)) AS BIGINT) AS bc
      FROM d{levels} a
      JOIN d{levels} b ON b.s = a.v
      JOIN d{levels} c ON c.s = a.s AND c.v = b.v
        AND a.d + b.d = c.d
      WHERE a.s <> a.v AND a.v <> b.v AND a.s <> b.v
      GROUP BY 1
    ) t ON t.node = n.node
    """


# graded r11-r12 (green archives); rotated to extra in r13
@query("q_betweenness_trade", extra=True, oracle=_betweenness_oracle(4))
def q_betweenness_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT betweenness centrality over the mean-thresholded trade
    graph (the same sparsification as q_scc_trade — the raw graph is
    near-complete, where betweenness is identically 0) — the broker
    metric completing the centrality family (PageRank = influence,
    HITS = hub/authority, Katz = decayed reach, k-core = cohesion;
    betweenness = WHO SITS ON THE PATHS). Computed by the pair-counting
    identity over multi-source BFS distances + path counts
    (operators/graph.py:betweenness_exact), each pair's
    sigma_sv*sigma_vt/sigma_st snapped with the half-up integer device
    before the sum — hash-exact, no float.

    Levels cap at 4; the sparsified graph's diameter is 3 at every SF
    and the empty-next-frontier gate lives in tests/test_graph.py.

    Scale: the edge build is the q7 fact join (the only corpus-scale
    stage); BFS state and the final triple join are node-cardinality
    relations (25 nations) — broadcast territory. At million-node
    graphs exact APSP is the wrong tool for ANY engine; the sampled-
    source Brandes variant reuses the same frontier loop on a sampled
    f0 (documented in the operator).
    """
    from ..operators.graph import betweenness_exact

    edges = _strong_edges(_trade_edges(_trade_lines(spark, sf_dir)))
    return betweenness_exact(edges.select("src", "dst"), max_depth=4).select(
        F.col("node").cast("long").alias("node"), "bc_micro"
    )


def _matching_oracle(rounds: int = 4) -> str:
    """Unrolled replay of operators/graph.py:dominant_edge_matching on
    the mean-thresholded undirected trade graph: per round a
    MATERIALIZED best-incident-edge level, the mutual-dominance join,
    and the endpoint-retirement filter."""
    head = """
    WITH e0 AS MATERIALIZED (
      SELECT c_nationkey AS src, s_nationkey AS dst, COUNT(*) AS w
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY 1, 2
    ),
    agg AS (SELECT SUM(w) AS tot, COUNT(*) AS n FROM e0),
    ef AS MATERIALIZED (
      SELECT src, dst, w FROM e0, agg WHERE src <> dst AND w * n >= tot
    ),
    e1 AS MATERIALIZED (
      SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b,
             CAST(SUM(w) AS BIGINT) AS w
      FROM ef GROUP BY 1, 2
    )"""
    rnd = """,
    b{R} AS MATERIALIZED (
      SELECT node, a, b FROM (
        SELECT node, a, b,
               ROW_NUMBER() OVER (PARTITION BY node
                                  ORDER BY w DESC, a, b) AS rn
        FROM (
          SELECT a AS node, a, b, w FROM e{R}
          UNION ALL
          SELECT b AS node, a, b, w FROM e{R}
        )
      ) WHERE rn = 1
    ),
    m{R} AS MATERIALIZED (
      SELECT e.a, e.b, e.w, {R} AS round
      FROM e{R} e
      JOIN b{R} x ON x.node = e.a AND x.a = e.a AND x.b = e.b
      JOIN b{R} y ON y.node = e.b AND y.a = e.a AND y.b = e.b
    ),
    e{N} AS MATERIALIZED (
      SELECT * FROM e{R}
      WHERE a NOT IN (SELECT a FROM m{R} UNION SELECT b FROM m{R})
        AND b NOT IN (SELECT a FROM m{R} UNION SELECT b FROM m{R})
    )"""
    body = "".join(rnd.format(R=r, N=r + 1) for r in range(1, rounds + 1))
    arms = "\n    UNION ALL\n    ".join(
        f"SELECT a, b, w, CAST(round AS INT) AS round FROM m{r}"
        for r in range(1, rounds + 1)
    )
    return head + body + "\n    " + arms


# graded since round 10 (wave 2): the assignment/matching family
@query("q_graph_matching", oracle=_matching_oracle(4))
def q_graph_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed greedy weighted MATCHING (Preis locally-dominant
    edges — see operators/graph.py:dominant_edge_matching) over the
    mean-thresholded undirected trade graph: the assignment-problem
    member of the graph family (centrality ranks nodes, components
    group them; matching PAIRS them — the kernel of multilevel graph
    coarsening, switch scheduling and one-to-one entity linking). Four
    rounds reach maximality here (the round-5 emptiness gate lives in
    tests/test_graph.py alongside the no-shared-endpoint and
    mutual-dominance axioms); all weights are exact lineitem counts and
    the dominance order (w DESC, a, b) is total, so the unrolled oracle
    replays every round hash-exact.

    Scale: the edge build is the q7 fact join; each round is one
    endpoint-keyed window + node-keyed joins on the nation-level
    relation. On billion-edge graphs the same rounds run with the
    incidence window partitioned by node — the standard parallel
    matching in graph-partitioner coarsening, unchanged.
    """
    from ..operators.graph import dominant_edge_matching

    und = (
        _strong_edges(_trade_edges(_trade_lines(spark, sf_dir)))
        .groupBy(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .agg(F.sum("w").cast("long").alias("w"))
    )
    return dominant_edge_matching(und, rounds=4)


def _mis_oracle(rounds: int = 3) -> str:
    """Unrolled replay of operators/graph.py:luby_mis on the mean-
    thresholded undirected trade graph: per round a MATERIALIZED
    undecided-adjacency level, the beaten-by-smaller-(pr, id) relation,
    the admit set, and the retirement filter."""
    head = """
    WITH e0 AS MATERIALIZED (
      SELECT c_nationkey AS src, s_nationkey AS dst, COUNT(*) AS w
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY 1, 2
    ),
    agg AS (SELECT SUM(w) AS tot, COUNT(*) AS n FROM e0),
    ef AS MATERIALIZED (
      SELECT src, dst FROM e0, agg WHERE src <> dst AND w * n >= tot
    ),
    e1 AS MATERIALIZED (
      SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b FROM ef
    ),
    eb AS MATERIALIZED (
      SELECT a, b FROM e1 UNION ALL SELECT b AS a, a AS b FROM e1
    ),
    u0 AS MATERIALIZED (
      SELECT node,
             md5_number_lower('mis-v1:' || CAST(node AS VARCHAR))
               % 2147483647 AS pr
      FROM (SELECT DISTINCT a AS node FROM eb)
    )"""
    rnd = """,
    adj{R} AS MATERIALIZED (
      SELECT e.a, e.b FROM eb e
      WHERE e.a IN (SELECT node FROM u{P})
        AND e.b IN (SELECT node FROM u{P})
    ),
    beat{R} AS (
      SELECT DISTINCT x.a AS node
      FROM adj{R} x
      JOIN u{P} p1 ON p1.node = x.a
      JOIN u{P} p2 ON p2.node = x.b
      WHERE p2.pr < p1.pr OR (p2.pr = p1.pr AND x.b < x.a)
    ),
    m{R} AS MATERIALIZED (
      SELECT node FROM u{P}
      WHERE node NOT IN (SELECT node FROM beat{R})
    ),
    u{R} AS MATERIALIZED (
      SELECT u.node, u.pr FROM u{P} u
      WHERE u.node NOT IN (SELECT node FROM m{R})
        AND u.node NOT IN
          (SELECT x.a FROM adj{R} x JOIN m{R} m ON m.node = x.b)
    )"""
    body = "".join(rnd.format(R=r, P=r - 1) for r in range(1, rounds + 1))
    arms = "\n    UNION ALL\n    ".join(
        f"SELECT CAST(node AS BIGINT) AS node, CAST({r} AS INT) AS mis_round "
        f"FROM m{r}"
        for r in range(1, rounds + 1)
    )
    return head + body + "\n    " + arms


@query(
    "q_luby_mis",
    # graded r12-r13 (green in CORRECTNESS_r12/r13); rotated to extra in
    # r14 to free a slot for never-graded families (ROTATION.md)
    extra=True,
    oracle=_mis_oracle(3),
)
def q_luby_mis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luby-style MAXIMAL INDEPENDENT SET (operators/graph.py:luby_mis)
    on the mean-thresholded undirected trade graph — the vertex
    symmetry-breaking member of the graph family (matching retires
    locally-dominant EDGES; MIS admits locally-minimal NODES — the
    primitive behind parallel coloring, scheduling and landmark
    selection). Priorities are the shared md5 residue with node-id
    tiebreak, so the run is deterministic and the unrolled oracle
    replays every round hash-exact. Three rounds reach maximality here
    (the round-4 emptiness gate and the independence/maximality axioms
    live in tests/test_graph.py).

    Scale: per round one adjacency semi-join pair + one broadcast
    anti-join, all node- or edge-sized relations; expected O(log n)
    rounds — the textbook Pregel/GraphX kernel shape.
    """
    from ..operators.graph import luby_mis

    und = (
        _strong_edges(_trade_edges(_trade_lines(spark, sf_dir)))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )
    return luby_mis(und, rounds=3).select(
        F.col("node").cast("long").alias("node"), "mis_round"
    )


_GS_LIST = 8  # truncated preference-list length (NRMP-style)
# Round bound: the L+1 heuristic (one list entry per free proposer per
# round) is NOT generally valid — a proposer can sit engaged for rounds
# (consuming nothing) and then be bumped; measured on the synthetic trade
# matrix quiescence takes 9/10/9 rounds at sf0.001/0.01/0.1, i.e. L+1=9
# was one round SHORT at sf0.01. The general bound is |pr|+1 (every
# non-quiescent round permanently consumes >= 1 list entry). We unroll
# 3L as margin, exit early at quiescence (post-quiescence rounds are
# no-ops in both engines), and RAISE if still unconverged (see query).
_GS_ROUNDS = 3 * _GS_LIST


def _stable_matching_oracle() -> str:
    """Unrolled replay of the parallel deferred-acceptance rounds: per
    round a best-remaining-proposal level, the acceptor-side keep, and
    the cumulative rejection update."""
    head = f"""
    WITH w AS MATERIALIZED (
      SELECT c_nationkey AS p, s_nationkey AS a, CAST(COUNT(*) AS BIGINT) AS w
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY 1, 2
    ),
    pr AS MATERIALIZED (
      SELECT p, a, prk FROM (
        SELECT p, a,
          ROW_NUMBER() OVER (PARTITION BY p ORDER BY w DESC, a) AS prk
        FROM w
      ) WHERE prk <= {_GS_LIST}
    ),
    ar AS MATERIALIZED (
      SELECT p, a,
        ROW_NUMBER() OVER (PARTITION BY a ORDER BY w DESC, p) AS ark
      FROM w
    ),
    eng0 AS (SELECT CAST(NULL AS BIGINT) AS p, CAST(NULL AS BIGINT) AS a
             WHERE FALSE),
    rej0 AS (SELECT CAST(NULL AS BIGINT) AS p, CAST(NULL AS BIGINT) AS a
             WHERE FALSE)"""
    rnd = """,
    prop{R} AS MATERIALIZED (
      -- every free proposer proposes to its best remaining list entry
      SELECT p, a FROM (
        SELECT pr.p, pr.a,
          ROW_NUMBER() OVER (PARTITION BY pr.p ORDER BY pr.prk) AS rn
        FROM pr
        WHERE pr.p NOT IN (SELECT p FROM eng{P} WHERE p IS NOT NULL)
          AND NOT EXISTS (SELECT 1 FROM rej{P} r
                          WHERE r.p = pr.p AND r.a = pr.a)
      ) WHERE rn = 1
    ),
    cand{R} AS MATERIALIZED (
      SELECT p, a FROM prop{R}
      UNION ALL
      SELECT p, a FROM eng{P} WHERE p IS NOT NULL
    ),
    eng{R} AS MATERIALIZED (
      -- each acceptor keeps the best candidate by ITS preference
      SELECT p, a FROM (
        SELECT c.p, c.a,
          ROW_NUMBER() OVER (PARTITION BY c.a ORDER BY ar.ark) AS rn
        FROM cand{R} c JOIN ar ON ar.p = c.p AND ar.a = c.a
      ) WHERE rn = 1
    ),
    rej{R} AS MATERIALIZED (
      SELECT p, a FROM rej{P} WHERE p IS NOT NULL
      UNION
      SELECT c.p, c.a FROM cand{R} c
      WHERE NOT EXISTS (SELECT 1 FROM eng{R} e
                        WHERE e.p = c.p AND e.a = c.a)
    )"""
    body = "".join(
        rnd.format(R=r, P=r - 1) for r in range(1, _GS_ROUNDS + 1)
    )
    return (
        head
        + body
        + f"""
    SELECT e.p AS proposer, e.a AS acceptor,
           CAST(pr.prk AS INT) AS proposer_rank,
           CAST(ar.ark AS INT) AS acceptor_rank
    FROM eng{_GS_ROUNDS} e
    JOIN pr ON pr.p = e.p AND pr.a = e.a
    JOIN ar ON ar.p = e.p AND ar.a = e.a
    """
    )


@query("q_stable_matching", oracle=_stable_matching_oracle())  # promoted r12: two-sided markets, never graded
def q_stable_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARALLEL DEFERRED ACCEPTANCE (Gale-Shapley) — the TWO-SIDED
    market member of the assignment family (q_graph_matching maximizes
    weight one-sidedly; stable matching satisfies PREFERENCES on both
    sides: no customer-nation/supplier-nation pair would jointly defect).
    Preferences are trade volume (w DESC, id) on both sides, proposer
    lists truncated to {_GS_LIST} (the NRMP device). Convergence: each
    non-quiescent round permanently consumes >= 1 list entry (every
    rejection — refused proposal or bumped incumbent — lands in rej
    forever), so quiescence arrives within |pr| + 1 rounds in general;
    the L+1 = {_GS_ROUNDS} heuristic (one entry per free proposer per
    round) can be violated when a proposer sits engaged for several
    rounds before being bumped, so the loop EXITS EARLY as soon as the
    round state (doomed + eng) stops growing — a strict-growth invariant
    makes the unchanged count a quiescence certificate, read from the
    just-checkpointed stub for free; extra oracle rounds are no-ops so
    hashes agree — and RAISES if the bound is exhausted while the state
    still grows — loud, never a silently partial matching. All free proposers propose simultaneously; each
    acceptor keeps its best candidate (including its current match) —
    the simultaneous-proposal variant computes the SAME proposer-optimal
    stable matching as the sequential textbook algorithm, which
    tests/test_graph.py re-derives in pure Python and compares
    pair-for-pair, alongside the no-blocking-pair axiom.

    Scale: the preference ranks are two windows partitioned by the
    entity (never global); each round is candidate-relation joins +
    per-acceptor windows on nation-sized relations, cumulative
    rejections bounded by |pr| <= 25 x {_GS_LIST}. On a million-entity
    two-sided market the same rounds run with everything partitioned by
    proposer/acceptor — the standard distributed deferred acceptance.
    """
    from pyspark.sql import Window

    w = (
        _trade_edges(_trade_lines(spark, sf_dir))
        .select(F.col("src").alias("p"), F.col("dst").alias("a"), "w")
        .localCheckpoint()  # both rank relations read it
    )
    # pr/ar feed ONLY the fused prar checkpoint below — no per-relation
    # checkpoint jobs needed (w itself is already materialized)
    pr = (
        w.withColumn(
            "prk",
            F.row_number().over(
                Window.partitionBy("p").orderBy(F.col("w").desc(), "a")
            ),
        )
        .where(F.col("prk") <= _GS_LIST)
        .select("p", "a", "prk")
    )
    ar = w.select(
        "p",
        "a",
        F.row_number()
        .over(Window.partitionBy("a").orderBy(F.col("w").desc(), "p"))
        .alias("ark"),
    )

    from ..functions import scale as _scale
    from ..functions.scale import (
        loop_ckpt_counted,
        loop_rounds,
        loop_shuffle_partitions,
    )

    # (p, a, prk, ark): each list entry with BOTH ranks attached, for the
    # batch-rejection prune below.
    prar = pr.join(F.broadcast(ar), ["p", "a"]).localCheckpoint()

    cols = ["p", "a", "prk", "ark"]
    eng = prar.where(F.lit(False))

    # The cumulative rejection set is IMPLICIT (round-13 optimization,
    # guide §2.4 "remove shuffles outright"): with batch rejection an
    # acceptor's bar (its tentative match's ark) only TIGHTENS, and
    # every rejection class — refused proposal, bumped incumbent,
    # batch-doomed suffix — is exactly a list entry ranked strictly
    # below the CURRENT bar. So "not yet rejected" is the stateless
    # predicate ark < bar(a) (or a unengaged) instead of a cumulative
    # rej relation that the first cut re-unioned and DISTINCTed every
    # round (one Exchange per round on the pair-list relation, plus two
    # extra broadcast joins to re-attach ranks). State is the engagement
    # relation alone, carrying both ranks, so the output is a projection.
    def gs_round(cur: DataFrame) -> DataFrame:
        # Both per-round argmins are min_by AGGREGATES, not row_number
        # windows (round-14, guide §2.4/§2.3): the window form paid an
        # exchange + full sort + window scan per round; min_by is
        # map-side-combinable partial aggregation with no sort. Values
        # are identical — prk is unique within p and ark unique within a
        # (both are row_numbers), so min_by has no ties to break.
        bar = cur.select("a", F.col("ark").alias("bar_ark"))
        free = (
            prar.join(F.broadcast(cur.select("p")), "p", "anti")
            .join(F.broadcast(bar), "a", "left")
            .where(
                F.col("bar_ark").isNull() | (F.col("ark") < F.col("bar_ark"))
            )
        )
        prop = (
            free.groupBy("p")
            .agg(F.min_by(F.struct(*cols), F.col("prk")).alias("s"))
            .select("s.*")
        )
        # each acceptor keeps the best of {incumbent} ∪ {proposals} by
        # ITS rank — ark rides the state, so no re-join against ar
        cand = prop.unionByName(cur)
        return (
            cand.groupBy("a")
            .agg(F.min_by(F.struct(*cols), F.col("ark")).alias("s"))
            .select("s.*")
        )

    # ONE action per round reads the quiescence certificate: |doomed|
    # (pairs under the new bars) and |eng| are both monotone and every
    # proposal strictly grows their union — an accepted proposal at a
    # free acceptor adds an eng row; a displacement (or losing
    # simultaneous proposal) pushes the incumbent/loser pair under the
    # tightened bar, adding a doomed row — so an unchanged count proves
    # the round was a no-op and all later rounds are no-ops too (the
    # fixed-unroll oracle's extra rounds are no-ops, hashes agree).
    # (A 2-rounds-per-action variant was measured SLOWER here — the
    # doubled per-block plan analysis outweighed the saved job, and
    # block-granular convergence pays 2 extra no-op rounds.)
    converged = False
    prev_n = -1
    # Every per-round relation is bounded by |prar| (the truncated
    # preference lists). Restoring the setting after the loop is safe:
    # every loop-state relation is checkpoint-materialized in its
    # round, so the (lazy) final projection computes the same rows.
    with loop_shuffle_partitions(prar.sparkSession, prar.count()):
        for _ in range(loop_rounds(_GS_ROUNDS)):
            eng_n = gs_round(eng)
            bar_n = eng_n.select("a", F.col("ark").alias("bar_ark"))
            doomed = (
                prar.join(F.broadcast(bar_n), "a")
                .where(F.col("ark") > F.col("bar_ark"))
                .select(*cols)
            )
            state, n = loop_ckpt_counted(
                doomed.select(*cols, F.lit(True).alias("is_rej")).unionByName(
                    eng_n.select(*cols, F.lit(False).alias("is_rej"))
                )
            )
            eng = state.where(~F.col("is_rej")).select(*cols)
            if n == prev_n:
                converged = True
                break
            prev_n = n
    if not converged and not _scale.AUDIT_ITERATION_MODE:
        # The L+1 bound assumed each free proposer consumes a list entry
        # every round, which bumping violates (see docstring); fail LOUD
        # rather than emit a silently partial matching the oracle would
        # mirror but no market would accept.
        raise RuntimeError(
            "q_stable_matching: state still growing after "
            f"{_GS_ROUNDS} rounds — the 3L round bound was insufficient "
            "on this data; raise _GS_LIST or the bound (general bound: "
            "|pr|+1 rounds)."
        )
    # both ranks rode the loop state — the output is a pure projection
    # of the final engagement relation (the first cut re-joined pr and
    # ar here)
    return eng.select(
        F.col("p").alias("proposer"),
        F.col("a").alias("acceptor"),
        F.col("prk").cast("int").alias("proposer_rank"),
        F.col("ark").cast("int").alias("acceptor_rank"),
    )


# ---------------------------------------------------------------------------
# Critical path (round 12)
# ---------------------------------------------------------------------------

_CP_WEEKS = 5  # calendar layers; 4 DP transitions unrolled in the oracle
_CP_EPOCH = "2024-01-01"


def _critical_path_oracle() -> str:
    head = """
    WITH uw AS (
      SELECT user_id,
        CAST((CAST(ts AS DATE) - DATE '{EPOCH}') AS BIGINT) // 7 + 1 AS wk,
        event_type, CAST(COUNT(*) AS BIGINT) AS c
      FROM events
      WHERE CAST((CAST(ts AS DATE) - DATE '{EPOCH}') AS BIGINT) // 7 + 1
            BETWEEN 1 AND {W}
      GROUP BY 1, 2, 3
    ),
    modal AS (
      SELECT user_id, wk, event_type FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY user_id, wk ORDER BY c DESC, event_type) AS rn
        FROM uw
      ) WHERE rn = 1
    ),
    edges AS (
      SELECT a.wk AS wk, a.event_type AS t1, b.event_type AS t2,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM modal a JOIN modal b
        ON b.user_id = a.user_id AND b.wk = a.wk + 1
      GROUP BY 1, 2, 3
    ),
    l1 AS (
      SELECT DISTINCT event_type, CAST(0 AS BIGINT) AS v,
             CAST(NULL AS VARCHAR) AS parent
      FROM modal WHERE wk = 1
    )""".format(EPOCH=_CP_EPOCH, W=_CP_WEEKS)
    parts = [head]
    for w in range(2, _CP_WEEKS + 1):
        parts.append(
            """
    l{W} AS (
      SELECT event_type, v, parent FROM (
        SELECT e.t2 AS event_type, p.v + e.w AS v, e.t1 AS parent,
          ROW_NUMBER() OVER (PARTITION BY e.t2
            ORDER BY p.v + e.w DESC, e.t1) AS rn
        FROM edges e JOIN l{P} p ON p.event_type = e.t1
        WHERE e.wk = {P}
      ) WHERE rn = 1
    )""".format(W=w, P=w - 1)
        )
    sel = "\nUNION ALL\n".join(
        "SELECT {W} AS wk, event_type, v, parent FROM l{W}".format(W=w)
        for w in range(1, _CP_WEEKS + 1)
    )
    return ",".join(parts) + "\n" + sel


@query("q_critical_path", extra=True, oracle=_critical_path_oracle())
def q_critical_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRITICAL PATH — longest path through a layered DAG, the
    scheduling member of the graph family (q_bellman_ford_trade
    relaxes SHORTEST paths on a cyclic graph; the critical-path method
    maximizes over a DAG whose topological order is FREE — here the
    calendar: nodes are (week, modal event type), edges count users
    whose weekly modal type transitioned t1 -> t2, and the DP walks the
    {_CP_WEEKS} weekly layers). Emits every node's best cumulative
    weight and its argmax parent, so the full DP table — not just the
    terminal max — is oracle-checked.

    Determinism: weights are exact user counts; the per-node argmax is a
    ROW_NUMBER with (value DESC, parent type) total order; modal types
    tiebreak on name. All integer.

    Scale: the modal reduction is one map-side count + a per-(user,
    week) window (never global); edges are a self-join keyed on user_id
    (co-partitioned); the DP runs on |event types| x weeks nodes — a
    constant-size relation at any corpus scale, which is why the layers
    can be statically unrolled instead of loop-checkpointed.
    """
    from pyspark.sql import Window as W

    from ..functions.scale import fan_out

    epoch = F.lit(_CP_EPOCH).cast("date")
    wk = (F.datediff(F.col("ts").cast("date"), epoch) / 7).cast("long") + 1
    uw = (
        fan_out(load_table(spark, sf_dir, "events"))
        .select("user_id", wk.alias("wk"), "event_type")
        .where((F.col("wk") >= 1) & (F.col("wk") <= _CP_WEEKS))
        .groupBy("user_id", "wk", "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    modal = (
        uw.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("user_id", "wk").orderBy(
                    F.col("c").desc(), "event_type"
                )
            ),
        )
        .where(F.col("rn") == 1)
        .select("user_id", "wk", "event_type")
        .localCheckpoint()  # both edge legs + the layer-1 seed read it
    )
    a, b = modal.alias("a"), modal.alias("b")
    edges = (
        a.join(
            b,
            (F.col("b.user_id") == F.col("a.user_id"))
            & (F.col("b.wk") == F.col("a.wk") + 1),
        )
        .groupBy(
            F.col("a.wk").alias("wk"),
            F.col("a.event_type").alias("t1"),
            F.col("b.event_type").alias("t2"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
        .localCheckpoint()  # every DP level reads it
    )
    level = (
        modal.where(F.col("wk") == 1)
        .select("event_type")
        .distinct()
        .select(
            "event_type",
            F.lit(0).cast("long").alias("v"),
            F.lit(None).cast("string").alias("parent"),
        )
    )
    out = level.select(F.lit(1).cast("long").alias("wk"), "*")
    for w in range(2, _CP_WEEKS + 1):
        nxt = (
            edges.where(F.col("wk") == w - 1)
            .join(
                F.broadcast(
                    level.select(
                        F.col("event_type").alias("t1"), F.col("v").alias("pv")
                    )
                ),
                "t1",
            )
            .select(
                F.col("t2").alias("event_type"),
                (F.col("pv") + F.col("w")).alias("v"),
                F.col("t1").alias("parent"),
            )
            .withColumn(
                "rn",
                F.row_number().over(
                    W.partitionBy("event_type").orderBy(
                        F.col("v").desc(), "parent"
                    )
                ),
            )
            .where(F.col("rn") == 1)
            .select("event_type", "v", "parent")
            .localCheckpoint()  # next level + output both read it
        )
        out = out.unionByName(
            nxt.select(F.lit(w).cast("long").alias("wk"), "*")
        )
        level = nxt
    return out


# ---------------------------------------------------------------------------
# Auction assignment (round 12)
# ---------------------------------------------------------------------------

# Jacobi (all-free-bidders-bid) forward auction, Bertsekas 1979: values
# are scaled by S = n_bidders + 1 with bid increment eps = 1, which
# makes the terminal assignment EXACTLY optimal for integer values (the
# classic eps < 1/n rounding argument). Measured rounds to clear at the
# three SFs: 2 / 9 / 15 — the 40-round bound is margin, the loop exits
# the round the market clears and RAISES if the bound is exhausted
# (the q_stable_matching playbook).
_AUCTION_ROUNDS = 40


def _auction_round_sql(t: int) -> str:
    return """
    free{T} AS (
      SELECT b FROM bidders WHERE b NOT IN (SELECT b FROM st{P})
    ),
    net{T} AS MATERIALIZED (
      SELECT f.b, v.o, v.vs - COALESCE(st.price, 0) AS net,
             COALESCE(st.price, 0) AS price
      FROM free{T} f JOIN vals v ON v.b = f.b
      LEFT JOIN st{P} st ON st.o = v.o
    ),
    rk{T} AS MATERIALIZED (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY b
        ORDER BY net DESC, o) AS rn
      FROM net{T}
    ),
    bid{T} AS (
      SELECT r1.b, r1.o, r1.price + r1.net - r2.net + 1 AS bid
      FROM rk{T} r1 JOIN rk{T} r2 ON r2.b = r1.b AND r2.rn = 2
      WHERE r1.rn = 1
    ),
    win{T} AS MATERIALIZED (
      SELECT o, b, bid FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY o
          ORDER BY bid DESC, b) AS w
        FROM bid{T}
      ) WHERE w = 1
    ),
    st{T} AS MATERIALIZED (
      SELECT st.o, st.b, st.price FROM st{P} st
      WHERE st.o NOT IN (SELECT o FROM win{T})
      UNION ALL
      SELECT o, b, bid FROM win{T}
    )""".format(T=t, P=t - 1)


def _auction_oracle() -> str:
    head = """
    WITH counts AS (
      SELECT event_type AS b, CAST(isodow(ts) AS BIGINT) AS o,
             CAST(COUNT(*) AS BIGINT) AS v
      FROM events WHERE isodow(ts) <= 5
      GROUP BY 1, 2
    ),
    bidders AS (SELECT DISTINCT b FROM counts),
    objs AS (SELECT DISTINCT o FROM counts),
    nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM bidders),
    vals AS MATERIALIZED (
      SELECT bb.b, oo.o,
        COALESCE(c.v, 0) * (nb.n + 1) AS vs, COALESCE(c.v, 0) AS v
      FROM bidders bb CROSS JOIN objs oo CROSS JOIN nb
      LEFT JOIN counts c ON c.b = bb.b AND c.o = oo.o
    ),
    st0 AS (SELECT CAST(NULL AS BIGINT) AS o, CAST(NULL AS VARCHAR) AS b,
                   CAST(NULL AS BIGINT) AS price WHERE FALSE)"""
    body = ",".join(
        _auction_round_sql(t) for t in range(1, _AUCTION_ROUNDS + 1)
    )
    return (
        head
        + ","
        + body
        + """
    SELECT st.b AS bidder, st.o AS object, v.v AS v,
           CAST(st.price AS BIGINT) AS price_scaled
    FROM st{L} st JOIN vals v ON v.b = st.b AND v.o = st.o
    """.format(L=_AUCTION_ROUNDS)
    )


@query("q_auction_assignment", extra=True, oracle=_auction_oracle())
def q_auction_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUCTION ALGORITHM for the assignment problem — the market-
    equilibrium / primal-dual member of the matching family
    (q_graph_matching is greedy and approximate, q_stable_matching
    satisfies ordinal preferences; the auction finds the EXACTLY
    MAX-WEIGHT perfect assignment by price dynamics: free bidders bid
    best-net-value minus second-best plus eps on their favorite object,
    highest bid wins, prices only rise). Bidders = event types, objects
    = weekdays 1..5, value = activity count; eps-scaling (values x
    (n+1), eps = 1) makes the terminal assignment exactly optimal for
    integer values — certified against brute-force permutation
    enumeration in tests/test_graph.py.

    Determinism: values, prices and bids are exact integers; bidder-side
    argmax ties break on object id, object-side on bidder name. The loop
    exits the round the market clears (owned count == n, read from the
    fused checkpoint count) and raises if {_AUCTION_ROUNDS} rounds pass
    without clearing; the fixed-unroll oracle's post-clearing rounds are
    no-ops (no free bidders -> no bids -> state fixed).

    Scale: ONE map-side count aggregation touches the fact table; every
    auction round runs on catalog-bounded relations (<= |types| x 5).
    At a million-item market the same rounds run partitioned by object
    for the bid-resolution and by bidder for the argmax — the standard
    distributed auction decomposition.
    """
    from pyspark.sql import Window

    from ..functions.scale import fan_out as _fan
    from ..functions.scale import loop_ckpt_counted, loop_rounds

    counts = (
        _fan(load_table(spark, sf_dir, "events"))
        .where((F.weekday("ts") + 1) <= 5)
        .groupBy(
            F.col("event_type").alias("b"),
            (F.weekday("ts") + 1).cast("long").alias("o"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("v"))
        .localCheckpoint()  # bidders/objs/vals all read it
    )
    bidders = counts.select("b").distinct().localCheckpoint()
    objs = counts.select("o").distinct()
    n_b = bidders.count()
    vals = (
        bidders.crossJoin(objs)
        .join(counts, ["b", "o"], "left")
        .select(
            "b",
            "o",
            (F.coalesce(F.col("v"), F.lit(0)) * (n_b + 1)).alias("vs"),
            F.coalesce(F.col("v"), F.lit(0)).alias("v"),
        )
        .localCheckpoint()  # every round's net computation reads it
    )
    state = vals.select(
        "o", "b", F.lit(0).cast("long").alias("price")
    ).where(F.lit(False))
    converged = False
    for _ in range(loop_rounds(_AUCTION_ROUNDS)):
        net = (
            vals.join(F.broadcast(state.select("b")), "b", "anti")
            .join(
                F.broadcast(state.select("o", "price")), "o", "left"
            )
            .select(
                "b",
                "o",
                (F.col("vs") - F.coalesce(F.col("price"), F.lit(0))).alias(
                    "net"
                ),
                F.coalesce(F.col("price"), F.lit(0)).alias("oprice"),
            )
            .withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("b").orderBy(F.col("net").desc(), "o")
                ),
            )
        )
        bids = (
            net.groupBy("b")
            .agg(
                F.max(
                    F.when(
                        F.col("rn") == 1,
                        F.struct("o", "oprice", F.col("net").alias("net1")),
                    )
                ).alias("top"),
                F.max(F.when(F.col("rn") == 2, F.col("net"))).alias("net2"),
            )
            .select(
                "b",
                F.col("top.o").alias("o"),
                (
                    F.col("top.oprice")
                    + F.col("top.net1")
                    - F.col("net2")
                    + 1
                ).alias("bid"),
            )
        )
        win = (
            bids.withColumn(
                "w",
                F.row_number().over(
                    Window.partitionBy("o").orderBy(F.col("bid").desc(), "b")
                ),
            )
            .where(F.col("w") == 1)
            .select("o", "b", F.col("bid").alias("price"))
        )
        state, cnt = loop_ckpt_counted(
            state.join(F.broadcast(win.select("o")), "o", "anti").unionByName(
                win
            )
        )
        if cnt == n_b:
            converged = True
            break
    if not converged and loop_rounds(_AUCTION_ROUNDS) == _AUCTION_ROUNDS:
        raise RuntimeError(
            "q_auction_assignment: market did not clear within "
            f"{_AUCTION_ROUNDS} rounds — raise the bound (measured "
            "clearing: 2/9/15 rounds at sf0.001/0.01/0.1)."
        )
    return state.join(F.broadcast(vals), ["b", "o"]).select(
        F.col("b").alias("bidder"),
        F.col("o").alias("object"),
        "v",
        F.col("price").alias("price_scaled"),
    )
