"""PageRank operator invariants (operators/graph.py) beyond the unrolled
SQL oracle in plans/graph_queries.py: probability-mass conservation,
positivity, and re-run determinism (the localCheckpoint loop must not
introduce any run-to-run variation)."""

from __future__ import annotations

from pyspark.sql import functions as F

from prefect_flow_arc_alto_to_json_spark.operators.graph import NANO, pagerank


def _edges(spark):
    rows = [
        (0, 1, 3), (0, 2, 1), (1, 2, 2), (2, 0, 5), (2, 3, 1),
        (3, 0, 1), (3, 4, 4), (4, 3, 2),
    ]
    return spark.createDataFrame(rows, "src long, dst long, w long")

def test_pagerank_mass_and_determinism(spark):
    r1 = {r["node"]: r["rank_nano"] for r in pagerank(_edges(spark), 4).collect()}
    # every node ranked, all positive
    assert set(r1) == {0, 1, 2, 3, 4}
    assert all(v > 0 for v in r1.values())
    # total mass stays ~1.0: per-term nano snapping can drift at most
    # ~(edges + nodes) nano per iteration
    assert abs(sum(r1.values()) - NANO) < 1000
    # high in-weight nodes outrank leaves (0 receives w=5+1, 1 only w=3)
    assert r1[0] > r1[1]
    r2 = {r["node"]: r["rank_nano"] for r in pagerank(_edges(spark), 4).collect()}
    assert r1 == r2  # bit-identical re-run


def test_pagerank_dangling_mass_documented_drop(spark):
    """A sink node (no out-edges) absorbs rank it never redistributes —
    the documented simplification: total mass DECREASES by exactly the
    sink's damped contribution, never corrupts other ranks."""
    rows = [(0, 1, 1), (1, 2, 1)]  # 2 is a dangling sink
    e = spark.createDataFrame(rows, "src long, dst long, w long")
    r = {x["node"]: x["rank_nano"] for x in pagerank(e, 2).collect()}
    assert set(r) == {0, 1, 2}
    assert sum(r.values()) < NANO  # leaked mass, by design
    assert all(v > 0 for v in r.values())


def test_pagerank_matches_numpy_reference_fuzz(spark):
    """Spark PageRank vs an independent dense NumPy power iteration with
    the SAME nano-snapping recurrence, on random weighted digraphs — the
    distributed join/agg loop must agree exactly (the snapping makes the
    comparison integer equality, not approximate)."""
    import random

    import numpy as np

    from prefect_flow_arc_alto_to_json_spark.operators.graph import NANO, pagerank

    rng = random.Random(99)
    for trial in range(3):
        n = rng.randint(4, 9)
        edges = []
        for u in range(n):
            for v in range(n):
                if u != v and rng.random() < 0.5:
                    edges.append((u, v, rng.randint(1, 9)))
        if not edges:
            continue
        df = spark.createDataFrame(edges, "src long, dst long, w long")
        got = {r["node"]: r["rank_nano"] for r in pagerank(df, 3).collect()}

        nodes = sorted({u for u, _, _ in edges} | {v for _, v, _ in edges})
        idx = {v: i for i, v in enumerate(nodes)}
        out_w = {}
        for u, _, w in edges:
            out_w[u] = out_w.get(u, 0) + w
        nn = len(nodes)
        base = int(0.15 * NANO / nn + 0.5)
        r = np.full(nn, int(NANO / nn + 0.5), dtype=np.int64)
        for _ in range(3):
            nxt = np.full(nn, base, dtype=np.int64)
            for u, v, w in edges:
                c = float(r[idx[u]]) * 0.85 * w / out_w[u]
                nxt[idx[v]] += int(np.floor(c + 0.5))
            r = nxt
        want = {v: int(r[idx[v]]) for v in nodes}
        assert got == want, f"trial {trial} diverged: {got} vs {want}"


def test_triangle_counts_hand_graph(spark):
    """K4 minus one edge: nodes 1-4, edges 12 13 14 23 24 (no 34):
    triangles {1,2,3} and {1,2,4} → counts 1:2 2:2 3:1 4:1. Edges fed in
    mixed orientation with duplicates to exercise canonicalization."""
    from prefect_flow_arc_alto_to_json_spark.operators.graph import (
        triangle_counts,
    )

    rows = [(1, 2), (3, 1), (1, 4), (2, 3), (4, 2), (2, 1), (2, 2)]
    edges = spark.createDataFrame(rows, "src long, dst long")
    out = {r["node"]: r["n_tri"] for r in triangle_counts(edges).collect()}
    assert out == {1: 2, 2: 2, 3: 1, 4: 1}


def test_triangle_counts_triangle_free(spark):
    from prefect_flow_arc_alto_to_json_spark.operators.graph import (
        triangle_counts,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    assert triangle_counts(edges).count() == 0


def test_spectral_bipartition_separates_planted_clusters(spark):
    """Barbell graph: two dense 4-cliques bridged by ONE weak edge — the
    sign split must put each clique whole on one side, opposite sides."""
    from prefect_flow_arc_alto_to_json_spark.operators.graph import (
        spectral_bipartition,
    )

    edges = []
    for base in (0, 10):
        nodes = [base + i for i in range(4)]
        for i in nodes:
            for j in nodes:
                if i < j:
                    edges.append((i, j, 100))
    edges.append((0, 10, 1))  # the weak bridge
    df = spark.createDataFrame(edges, "src long, dst long, w long")
    out = {r["node"]: r["side"] for r in spectral_bipartition(df).collect()}
    left = {out[i] for i in range(4)}
    right = {out[10 + i] for i in range(4)}
    assert len(left) == 1 and len(right) == 1, (left, right, out)
    assert left != right, out


def test_spectral_bipartition_deterministic(spark):
    from prefect_flow_arc_alto_to_json_spark.operators.graph import (
        spectral_bipartition,
    )

    df = spark.createDataFrame(
        [(i, (i * 7 + 1) % 9, 1 + (i % 3)) for i in range(30) if i != (i * 7 + 1) % 9],
        "src long, dst long, w long",
    )
    a = sorted(map(tuple, spectral_bipartition(df).collect()))
    b = sorted(map(tuple, spectral_bipartition(df).collect()))
    assert a == b


def test_personalized_pagerank_empty_seed_schema_matches_normal_path(spark):
    """ADVICE r8 (low): the n_seeds == 0 early return must emit the SAME
    (node, is_seed, rank_nano) schema as the normal path, so downstream
    consumers and the registered oracle never branch on the degenerate
    case."""
    from prefect_flow_arc_alto_to_json_spark.operators.graph import (
        personalized_pagerank,
    )

    edges = spark.createDataFrame(
        [(0, 1, 1), (1, 2, 1), (2, 0, 1)], "src long, dst long, w long"
    )
    seeds = spark.createDataFrame([(0,)], "node long")
    no_seeds = seeds.where(F.lit(False))
    normal = personalized_pagerank(edges, seeds, iterations=1)
    degenerate = personalized_pagerank(edges, no_seeds, iterations=1)
    assert degenerate.schema == normal.schema, (
        degenerate.schema.simpleString(),
        normal.schema.simpleString(),
    )
    rows = degenerate.collect()
    assert len(rows) == 3
    assert all(r["rank_nano"] == 0 and r["is_seed"] == 0 for r in rows)


def test_scc_first_peel_hand_graph(spark):
    """Cycle {1,2,3} with tail 4, 2-cycle {5,6}, DAG edge 7->8: the peel
    claims exactly the cycles (plus the root singleton 7 — a root always
    reaches itself); 4 and 8 stay unassigned (-1)."""
    from prefect_flow_arc_alto_to_json_spark.operators.graph import (
        scc_first_peel,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (5, 6), (6, 5), (7, 8)],
        "src long, dst long",
    )
    out = {r["node"]: (r["color"], r["scc_id"]) for r in scc_first_peel(edges).collect()}
    assert out[1] == (1, 1) and out[2] == (1, 1) and out[3] == (1, 1)
    assert out[4] == (1, -1)
    assert out[5] == (5, 5) and out[6] == (5, 5)
    assert out[7] == (7, 7)
    assert out[8] == (7, -1)


def test_trade_edges_match_sql_edges(spark, sf_dir):
    """The one Spark trade-graph builder equals the one SQL definition,
    ``_SQL_EDGES``, that every trade-graph oracle embeds — checked
    directly, not only through the queries built on both."""
    from prefect_flow_arc_alto_to_json_spark.plans.graph_queries import (
        _SQL_EDGES,
        _trade_edges,
        _trade_lines,
    )

    from .oracle_harness import compare, duck_con

    con = duck_con(sf_dir)
    try:
        n_edges = con.execute(f"SELECT COUNT(*) FROM ({_SQL_EDGES})").fetchone()[0]
        assert n_edges > 0, "vacuous: no trade edges"
        compare(_trade_edges(_trade_lines(spark, sf_dir)), con, _SQL_EDGES, "trade_edges")
    finally:
        con.close()


def test_scc_trade_rounds_reach_fixpoint(spark):
    """The registered query runs 4+4 rounds; a deeper run must agree —
    the fixed-round contract is only honest if the fixpoint is reached."""
    from prefect_flow_arc_alto_to_json_spark.operators.graph import (
        scc_first_peel,
    )
    from prefect_flow_arc_alto_to_json_spark.plans.graph_queries import (
        _strong_edges,
        _trade_edges,
        _trade_lines,
        q_scc_trade,
    )

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        base = sorted(map(tuple, q_scc_trade(spark, sf_dir).collect()))
        # the query's own strong-route edges, run deeper
        edges = _strong_edges(_trade_edges(_trade_lines(spark, sf_dir)))
        deep = sorted(
            map(tuple, scc_first_peel(edges.select("src", "dst"), rounds=7).collect())
        )
        assert base == deep, sf_dir


def test_pagerank_warm_start_beats_cold_single_round(spark):
    """The warm start's reason to exist: ONE resumed round on the grown
    graph lands closer to the converged answer than ONE cold round from
    the uniform init — so resuming saves the dropped rounds."""
    from prefect_flow_arc_alto_to_json_spark.operators.graph import (
        pagerank,
        pagerank_resume,
    )

    # a directed path mixes ONE hop per round (slow convergence — the
    # regime where resuming matters; a dense regular graph converges in
    # ~1 round from any init and warm == cold there)
    old = spark.createDataFrame(
        [(i, i + 1, 1) for i in range(11)],  # open path: ranks decay along
        # it nonuniformly (a closed cycle's fixpoint is uniform == the cold
        # init, which would make warm and cold identical)
        "src long, dst long, w long",
    )
    # drift: one added chord
    new = old.unionByName(
        spark.createDataFrame([(0, 6, 2)], "src long, dst long, w long")
    )
    ref = {r["node"]: r["rank_nano"] for r in pagerank(new, iterations=8).collect()}
    r_old = pagerank(old, iterations=3)
    warm = {
        r["node"]: r["rank_nano"]
        for r in pagerank_resume(new, r_old, iterations=1).collect()
    }
    cold = {r["node"]: r["rank_nano"] for r in pagerank(new, iterations=1).collect()}
    assert warm != cold  # the init actually flowed through
    err_warm = sum(abs(warm[n] - ref[n]) for n in ref)
    err_cold = sum(abs(cold[n] - ref[n]) for n in ref)
    assert err_warm < err_cold, (err_warm, err_cold)


def test_pagerank_dangling_conserves_mass_where_base_leaks(spark):
    """The redistribution variant's reason to exist: on a graph with a
    sink, base pagerank leaks the sink's damped mass every round while
    pagerank_dangling returns it — total stays ~NANO within snapping
    drift."""
    from prefect_flow_arc_alto_to_json_spark.operators.graph import (
        NANO,
        pagerank,
        pagerank_dangling,
    )

    e = spark.createDataFrame(
        [(0, 1, 1), (1, 2, 1), (0, 2, 2), (3, 2, 1)],  # 2 is a sink
        "src long, dst long, w long",
    )
    leaky = sum(r["rank_nano"] for r in pagerank(e, 3).collect())
    tight = sum(r["rank_nano"] for r in pagerank_dangling(e, 3).collect())
    assert leaky < NANO - 100_000_000  # the leak is real (>10% gone)
    assert abs(tight - NANO) < 1_000  # redistribution conserves


def test_ktruss_hand_graph_and_fixpoint(spark):
    """Triangle {1,2,3} + pendant 3-4: the 3-truss (support >= 1) keeps
    exactly the triangle; the 4-truss is empty (each edge sits in only
    one triangle). A deeper run must agree with the registered depth."""
    from prefect_flow_arc_alto_to_json_spark.operators.graph import (
        ktruss_edges,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], "src long, dst long"
    )
    t3 = sorted(map(tuple, ktruss_edges(edges, k=3, rounds=2).collect()))
    assert t3 == [(1, 2, 1), (1, 3, 1), (2, 3, 1)], t3
    assert ktruss_edges(edges, k=4, rounds=2).count() == 0
    # registered-depth fixpoint on the actual trade construction
    from prefect_flow_arc_alto_to_json_spark.plans.graph_queries import (
        _trade_edges,
        _trade_lines,
        q_ktruss_trade,
    )

    base = sorted(map(tuple, q_ktruss_trade(spark, "/root/testdata/sf0.001").collect()))
    # deeper: the operator on the query's own trade edges, more rounds
    from pyspark.sql import Window as W

    e0 = _trade_edges(_trade_lines(spark, "/root/testdata/sf0.001"))
    rn = F.row_number().over(W.partitionBy("src").orderBy(F.col("w").desc(), "dst"))
    top3 = (
        e0.where(F.col("src") != F.col("dst"))
        .withColumn("rn", rn)
        .where(F.col("rn") <= 3)
        .select("src", "dst")
    )
    deep = sorted(map(tuple, ktruss_edges(top3, k=4, rounds=6).collect()))
    assert base == deep


def test_modularity_exact_on_planted_two_cliques(spark):
    """Modularity of the true partition of two 4-cliques joined by one
    bridge edge is known in closed form: m = 13, each community has
    e_c = 6 intra edges and degree sum 13, so q_contrib_num =
    4*13*6 - 169 = 143 per side and Q = 286/676 ~ 0.423. Also checks the
    null-model identity: assigning ALL nodes one community gives Q = 0
    (e_c = m, d_c = 2m -> 4m*m - 4m^2 = 0)."""
    from prefect_flow_arc_alto_to_json_spark.operators.graph import (
        modularity_contributions,
    )

    clique = [(i, j) for i in range(4) for j in range(i + 1, 4)]
    edges = (
        [(a, b, 1, 1) for a, b in clique]
        + [(a + 4, b + 4, 2, 2) for a, b in clique]
        + [(3, 4, 1, 2)]  # the bridge
    )
    df = spark.createDataFrame(
        [(a, b, cn, sn) for a, b, cn, sn in edges],
        "a long, b long, cn int, sn int",
    ).select("cn", "sn")
    rows = {r["community"]: r for r in modularity_contributions(df).collect()}
    assert rows[1]["m"] == 13 and rows[2]["m"] == 13
    assert rows[1]["e_c"] == 6 and rows[2]["e_c"] == 6
    assert rows[1]["d_c"] == 13 and rows[2]["d_c"] == 13
    assert rows[1]["q_contrib_num"] == 143 == rows[2]["q_contrib_num"]

    allone = df.select(F.lit(0).alias("cn"), F.lit(0).alias("sn"))
    one = modularity_contributions(allone).collect()
    assert len(one) == 1 and one[0]["q_contrib_num"] == 0


def test_temporal_wedges_bin_probe_is_lossless(spark):
    """The 2-bin probe must equal the naive date-range join on a planted
    edge set engineered to straddle bin boundaries (d2 in the NEXT bin,
    d2 exactly at d1 + window, same-day forward pairs in both orders,
    and an out-of-window edge that must NOT count)."""
    e = spark.createDataFrame(
        [
            # supplier 1: days 6 (c1), 7 (c2, next bin, in window),
            # 13 (c3, = 6+7 boundary, in window for c1; 7+6 for c2),
            # 30 (c4, out of every window)
            (101, 1, 6), (102, 1, 7), (103, 1, 13), (104, 1, 30),
            # supplier 2: same-day pair -> both ordered directions count
            (201, 2, 10), (202, 2, 10),
        ],
        "c long, s long, d long",
    )
    from prefect_flow_arc_alto_to_json_spark.operators.graph import (
        temporal_wedges,
    )

    got = {r["s"]: (r["n_wedges"], r["n_src_customers"])
           for r in temporal_wedges(e).collect()}
    # supplier 1 wedges: (c1,c2), (c1,c3), (c2,c3) = 3, sources {c1,c2}
    # supplier 2: (c5,c6) and (c6,c5) = 2, sources both
    assert got[1] == (3, 2), got
    assert got[2] == (2, 2), got

    # brute-force equality on the same frame
    rows = e.collect()
    brute = {}
    for x in rows:
        for y in rows:
            if (x["s"] == y["s"] and x["c"] != y["c"]
                    and x["d"] <= y["d"] <= x["d"] + 7):
                w, srcs = brute.get(x["s"], (0, set()))
                srcs = srcs | {x["c"]}
                brute[x["s"]] = (w + 1, srcs)
    assert got == {s: (w, len(srcs)) for s, (w, srcs) in brute.items()}


def test_katz_star_graph_closed_form(spark, sf_dir):
    """Katz on the trade graph must satisfy the recursion's closed-form
    bounds: every node's x >= 1e9 (the walk-count base), and a node's
    final value is exactly 1e9 + floor(sum of its in-neighbors'
    round-2 values / 8) — re-derived here in pure Python from the edge
    list for a sample of nodes (the full relation is oracle-adjudicated;
    this pins the RECURSION against an independent replay)."""
    from prefect_flow_arc_alto_to_json_spark.plans import EXTRA_QUERIES, QUERIES

    rows = EXTRA_QUERIES["q_katz_centrality"](spark, sf_dir).collect()
    assert all(r["katz_nano"] >= 1_000_000_000 for r in rows)
    # independent replay on the same edge list
    import pandas as pd

    orders = pd.read_parquet(f"{sf_dir}/orders.parquet")[
        ["o_orderkey", "o_custkey"]
    ]
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")[
        ["l_orderkey", "l_suppkey"]
    ]
    ce = li.merge(
        orders, left_on="l_orderkey", right_on="o_orderkey"
    )[["o_custkey", "l_suppkey"]].drop_duplicates()
    edges = []
    for c, s in ce.itertuples(index=False):
        edges.append((c, s + 1_000_000))
        edges.append((s + 1_000_000, c))
    nodes = {a for a, _ in edges}
    x = {n: 1_000_000_000 for n in nodes}
    for _ in range(3):
        inc = {}
        for src, dst in edges:
            inc[dst] = inc.get(dst, 0) + x[src]
        x = {n: 1_000_000_000 + inc.get(n, 0) // 8 for n in nodes}
    got = {r["node"]: r["katz_nano"] for r in rows}
    assert got == x


def test_rich_club_two_cliques_closed_form(spark):
    """Rich-club counting on the planted two-clique-plus-bridge graph:
    at k=2 every node (deg 3 or 4) is in the club and all 13 edges are
    induced; at k=4 only the two bridge endpoints (deg 4) remain and
    exactly the bridge edge is induced — phi jumps to 2/(2*1), the
    hub-interconnection signal the ladder exists to expose. Uses the
    same operator input contract as the query via a local replay."""
    # (kept as a documentation fixture for the closed-form; the relation
    # itself is oracle-adjudicated at all three SFs)
    clique = [(i, j) for i in range(4) for j in range(i + 1, 4)]
    edges = clique + [(a + 4, b + 4) for a, b in clique] + [(3, 4)]
    deg = {}
    for a, b in edges:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    for k, want_nodes, want_edges in ((2, 8, 13), (3, 2, 1)):
        club = {n for n, d in deg.items() if d > k}
        induced = [(a, b) for a, b in edges if a in club and b in club]
        assert len(club) == want_nodes and len(induced) == want_edges


def test_betweenness_depth_cap_and_identity(spark, sf_dir):
    """q_betweenness_trade caps BFS at 4 levels — valid only while the
    sparsified graph's diameter fits: assert the LEVEL-5 frontier is
    empty (re-running the operator's own expansion one step past the
    cap), and cross-check one Brandes identity: the sum of all nodes'
    bc terms equals the sum over pairs of (internal vertices per pair),
    i.e. SUM(bc_micro) == SUM over reachable pairs s<>t of
    1e6 * (#shortest-path interior slots) snapped — here verified in its
    weaker exact form: every node's bc_micro is non-negative and some
    node is a genuine broker (bc_micro > 0)."""
    from pyspark.sql import functions as F

    from prefect_flow_arc_alto_to_json_spark.plans import EXTRA_QUERIES, QUERIES
    from prefect_flow_arc_alto_to_json_spark.plans.graph_queries import (
        _strong_edges,
        _trade_edges,
        _trade_lines,
    )

    out = {**QUERIES, **EXTRA_QUERIES}["q_betweenness_trade"](spark, sf_dir)
    rows = out.collect()
    assert rows and all(r["bc_micro"] >= 0 for r in rows)
    assert any(r["bc_micro"] > 0 for r in rows), "vacuous: no broker nodes"

    # the query's own sparsified edges; run the BFS one level past the cap
    e = (
        _strong_edges(_trade_edges(_trade_lines(spark, sf_dir)))
        .select("src", "dst")
        .localCheckpoint()
    )
    nodes = e.select(F.col("src").alias("node")).unionByName(
        e.select(F.col("dst").alias("node"))
    ).distinct()
    frontier = nodes.select(
        F.col("node").alias("s"), F.col("node").alias("v")
    ).localCheckpoint()
    dist = frontier
    for _k in range(1, 6):
        expanded = (
            frontier.join(e, frontier["v"] == e["src"])
            .select("s", F.col("dst").alias("v2"))
            .distinct()
        )
        frontier = (
            expanded.join(dist.select("s", F.col("v").alias("v2")), ["s", "v2"], "anti")
            .select("s", F.col("v2").alias("v"))
            .localCheckpoint()
        )
        dist = dist.unionByName(frontier).localCheckpoint()
    assert frontier.count() == 0, "level-5 frontier non-empty: diameter > 4"


def test_matching_axioms(spark, sf_dir):
    """Matching invariants the oracle hash can't express: (1) matched
    edges share no endpoint; (2) running ONE MORE round past the
    registered 4 matches nothing (maximality reached); (3) every
    round-1 matched edge really is the best incident edge of both its
    endpoints under (w DESC, a, b), recomputed independently."""
    from pyspark.sql import functions as F

    from prefect_flow_arc_alto_to_json_spark.operators.graph import (
        dominant_edge_matching,
    )
    from prefect_flow_arc_alto_to_json_spark.plans import EXTRA_QUERIES, QUERIES
    from prefect_flow_arc_alto_to_json_spark.plans.graph_queries import (
        _strong_edges,
        _trade_edges,
        _trade_lines,
    )

    rows = {**QUERIES, **EXTRA_QUERIES}["q_graph_matching"](spark, sf_dir).collect()
    assert rows, "vacuous: nothing matched"
    nodes = [x for r in rows for x in (r["a"], r["b"])]
    assert len(nodes) == len(set(nodes)), "matched edges share endpoints"

    # the query's own thresholded edges, made undirected as it does
    und = (
        _strong_edges(_trade_edges(_trade_lines(spark, sf_dir)))
        .groupBy(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .agg(F.sum("w").cast("long").alias("w"))
    )
    # (2) a 5th round adds nothing
    five = dominant_edge_matching(und, rounds=5).collect()
    assert not [r for r in five if r["round"] == 5], "round 5 still matched"
    # (3) round-1 mutual dominance, recomputed in plain python
    edges = [(r["a"], r["b"], r["w"]) for r in und.collect()]
    best = {}
    for a, b, w in edges:
        for node in (a, b):
            cur = best.get(node)
            if cur is None or (-w, a, b) < cur[0]:
                best[node] = ((-w, a, b), (a, b))
    for r in rows:
        if r["round"] == 1:
            e = (r["a"], r["b"])
            assert best[r["a"]][1] == e and best[r["b"]][1] == e, e


def test_luby_mis_axioms(spark, sf_dir):
    """Independence (no trade-graph edge joins two MIS nodes),
    maximality (every excluded node has a MIS neighbor), and round
    sufficiency (a 4th round admits nothing — the undecided set is empty
    after the configured 3)."""
    from pyspark.sql import functions as F

    from prefect_flow_arc_alto_to_json_spark.operators.graph import luby_mis
    from prefect_flow_arc_alto_to_json_spark.plans import EXTRA_QUERIES, QUERIES
    from prefect_flow_arc_alto_to_json_spark.plans.graph_queries import (
        _strong_edges,
        _trade_edges,
        _trade_lines,
    )

    rows = {**QUERIES, **EXTRA_QUERIES}["q_luby_mis"](spark, sf_dir).collect()
    mis = {r["node"] for r in rows}
    assert len(mis) == len(rows), "a node admitted twice"

    # the query's own mean-thresholded edges, made undirected as it does
    und = (
        _strong_edges(_trade_edges(_trade_lines(spark, sf_dir)))
        .select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .distinct()
    )
    edges = [(r["a"], r["b"]) for r in und.collect()]
    nodes = {x for e in edges for x in e}
    # independence
    assert not any(a in mis and b in mis for a, b in edges)
    # maximality: every excluded node is adjacent to a MIS node
    nbrs = {n: set() for n in nodes}
    for a, b in edges:
        nbrs[a].add(b)
        nbrs[b].add(a)
    for n in nodes - mis:
        assert nbrs[n] & mis, f"node {n} excluded without a MIS neighbor"
    # round sufficiency: a 4th round admits nothing new
    four = luby_mis(und, rounds=4).collect()
    assert {(r["node"], r["mis_round"]) for r in four} == {
        (r["node"], r["mis_round"]) for r in rows
    }


def test_stable_matching_equals_sequential_gs(spark, sf_dir):
    """The parallel deferred-acceptance rounds must produce EXACTLY the
    proposer-optimal stable matching of the textbook sequential
    Gale-Shapley (re-derived here in pure Python from the same truncated
    preference lists), and the result must admit no blocking pair within
    the lists."""
    import pandas as pd

    from prefect_flow_arc_alto_to_json_spark.plans import EXTRA_QUERIES, QUERIES
    from prefect_flow_arc_alto_to_json_spark.plans.graph_queries import _GS_LIST

    rows = {**QUERIES, **EXTRA_QUERIES}["q_stable_matching"](spark, sf_dir).collect()
    got = {r["proposer"]: r["acceptor"] for r in rows}
    assert len(got) == len(rows), "a proposer matched twice"
    assert len(set(got.values())) == len(got), "an acceptor matched twice"

    # rebuild the same weighted bipartite preferences
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")[["l_orderkey", "l_suppkey"]]
    orders = pd.read_parquet(f"{sf_dir}/orders.parquet")[["o_orderkey", "o_custkey"]]
    cust = pd.read_parquet(f"{sf_dir}/customer.parquet")[["c_custkey", "c_nationkey"]]
    supp = pd.read_parquet(f"{sf_dir}/supplier.parquet")[["s_suppkey", "s_nationkey"]]
    w = (
        li.merge(orders, left_on="l_orderkey", right_on="o_orderkey")
        .merge(cust, left_on="o_custkey", right_on="c_custkey")
        .merge(supp, left_on="l_suppkey", right_on="s_suppkey")
        .groupby(["c_nationkey", "s_nationkey"])
        .size()
        .reset_index(name="w")
    )
    plist: dict = {}
    for p, grp in w.groupby("c_nationkey"):
        ordered = grp.sort_values(["w", "s_nationkey"], ascending=[False, True])
        plist[p] = list(ordered["s_nationkey"])[:_GS_LIST]
    arank: dict = {}
    for a, grp in w.groupby("s_nationkey"):
        ordered = grp.sort_values(["w", "c_nationkey"], ascending=[False, True])
        arank[a] = {p: i for i, p in enumerate(ordered["c_nationkey"])}

    # sequential GS (proposer-optimal)
    nxt = {p: 0 for p in plist}
    eng: dict = {}  # acceptor -> proposer
    free = list(plist)
    while free:
        p = free.pop(0)
        while nxt[p] < len(plist[p]):
            a = plist[p][nxt[p]]
            nxt[p] += 1
            cur = eng.get(a)
            if cur is None:
                eng[a] = p
                break
            if arank[a][p] < arank[a][cur]:
                eng[a] = p
                free.append(cur)
                break
        # else exhausted -> stays unmatched
    want = {p: a for a, p in eng.items()}
    assert got == want

    # no blocking pair within the truncated lists
    pmatch_rank = {
        p: (plist[p].index(a) if a in plist[p] else None) for p, a in got.items()
    }
    amatch = {a: p for p, a in got.items()}
    for p, lst in plist.items():
        for i, a in enumerate(lst):
            if p in got and pmatch_rank[p] is not None and i >= pmatch_rank[p]:
                break  # p does not prefer a to its own match
            cur = amatch.get(a)
            if cur is None or arank[a][p] < arank[a][cur]:
                raise AssertionError(f"blocking pair ({p}, {a})")


def test_critical_path_equals_python_dp(spark, sf_dir):
    """The emitted DP table equals an independent pure-Python longest-
    path DP over the same modal-transition DAG (and is therefore optimal
    — every node's v is the max over all layer-respecting paths)."""
    import pandas as pd

    from prefect_flow_arc_alto_to_json_spark.plans import EXTRA_QUERIES
    from prefect_flow_arc_alto_to_json_spark.plans.graph_queries import (
        _CP_WEEKS,
    )

    rows = EXTRA_QUERIES["q_critical_path"](spark, sf_dir).collect()
    got = {(r["wk"], r["event_type"]): (r["v"], r["parent"]) for r in rows}

    ev = pd.read_parquet(f"{sf_dir}/events.parquet")[
        ["user_id", "ts", "event_type"]
    ]
    ev["wk"] = (ev["ts"].dt.normalize() - pd.Timestamp("2024-01-01")).dt.days // 7 + 1
    ev = ev[(ev["wk"] >= 1) & (ev["wk"] <= _CP_WEEKS)]
    cnt = (
        ev.groupby(["user_id", "wk", "event_type"]).size().reset_index(name="c")
    )
    cnt = cnt.sort_values(["user_id", "wk", "c", "event_type"],
                          ascending=[True, True, False, True])
    modal = cnt.groupby(["user_id", "wk"]).first().reset_index()
    m = {(r.user_id, r.wk): r.event_type for r in modal.itertuples()}
    edges: dict = {}
    for (u, w), t1 in m.items():
        t2 = m.get((u, w + 1))
        if t2 is not None:
            edges[(w, t1, t2)] = edges.get((w, t1, t2), 0) + 1
    level = {t: (0, None) for (u, w), t in m.items() if w == 1}
    want = {(1, t): v for t, v in level.items()}
    for w in range(2, _CP_WEEKS + 1):
        nxt: dict = {}
        for (ew, t1, t2), wt in edges.items():
            if ew != w - 1 or t1 not in level:
                continue
            cand = (level[t1][0] + wt, t1)
            cur = nxt.get(t2)
            if cur is None or (-cand[0], cand[1]) < (-cur[0], cur[1]):
                nxt[t2] = cand
        level = nxt
        for t, v in level.items():
            want[(w, t)] = v
    assert got == want


def test_auction_assignment_is_exactly_optimal(spark, sf_dir):
    """The cleared market's assignment equals the brute-force max-weight
    perfect assignment (all |bidders|! permutations), is a bijection,
    and satisfies eps-complementary-slackness (every bidder's net value
    at its own object is within eps=1 of its best net value)."""
    import itertools

    import pandas as pd

    from prefect_flow_arc_alto_to_json_spark.plans import EXTRA_QUERIES

    rows = EXTRA_QUERIES["q_auction_assignment"](spark, sf_dir).collect()
    got = {r["bidder"]: r["object"] for r in rows}
    assert len(got) == len(rows)
    assert len(set(got.values())) == len(got)

    ev = pd.read_parquet(f"{sf_dir}/events.parquet")[["ts", "event_type"]]
    ev["dow"] = ev["ts"].dt.dayofweek + 1  # isodow
    ev = ev[ev["dow"] <= 5]
    cnt = ev.groupby(["event_type", "dow"]).size()
    bidders = sorted(got)
    objs = sorted({r["object"] for r in rows})
    val = {
        (b, o): int(cnt.get((b, o), 0)) for b in bidders for o in objs
    }
    best = max(
        sum(val[(b, o)] for b, o in zip(bidders, perm))
        for perm in itertools.permutations(objs)
    )
    total = sum(val[(b, got[b])] for b in bidders)
    assert total == best, (total, best)

    # eps-CS on the scaled values with the emitted prices
    n = len(bidders)
    price = {r["object"]: r["price_scaled"] for r in rows}
    for b in bidders:
        nets = {o: val[(b, o)] * (n + 1) - price.get(o, 0) for o in objs}
        assert nets[got[b]] >= max(nets.values()) - 1, (b, nets, got[b])
