"""Oracle parity + invariants for the graph analytics queries."""

from __future__ import annotations


def test_oracle_parity(spark, duck, sf_dir):
    from tests.oracle import check_query

    check_query(spark, duck, "graph_pagerank_parts", sf_dir)


def test_pagerank_topk_shape(spark, sf_dir):
    from logflow.queries import load_all

    pdf = (
        load_all()["graph_pagerank_parts"].fn(spark, sf_dir).toPandas().sort_values("pos")
    )
    assert list(pdf["pos"]) == list(range(1, len(pdf) + 1))
    assert (pdf["rank_fp"] > 0).all()
    # ranks non-increasing with position (integer compare, no float fuzz)
    assert (pdf["rank_fp"].diff().dropna() <= 0).all()


def test_pagerank_fixed_point_mass_conserved(spark, sf_dir):
    """Total fixed-point mass after an iteration stays within N integer
    truncations of SCALE (each node's contribution and base term each
    truncate at most 1 unit) — the invariant that makes the fixed-point
    scheme a faithful PageRank."""
    from pyspark.sql import functions as F

    from logflow.queries.graph import _SCALE, graph_pagerank_parts  # noqa: F401
    from logflow.queries import load_all
    from logflow.sources.tables import load_table

    li = load_table(spark, "lineitem", sf_dir)
    ppo = li.groupBy("l_orderkey").agg(F.collect_set("l_partkey").alias("ps"))
    und = (
        ppo.select(F.explode("ps").alias("u"), "ps")
        .select("u", F.explode("ps").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .groupBy("u", "v")
        .agg(F.lit(1).alias("_one"))
    )
    n_nodes = und.select("u").distinct().count()
    pdf = load_all()["graph_pagerank_parts"].fn(spark, sf_dir).toPandas()
    # top-k mass alone must not exceed SCALE; each of the k ranks is below
    # SCALE (no node absorbs everything in a connected co-purchase graph)
    assert pdf["rank_fp"].sum() <= _SCALE
    assert (pdf["rank_fp"] < _SCALE).all()
    assert n_nodes >= len(pdf)


def test_triangle_parity(spark, duck, sf_dir):
    from tests.oracle import check_query

    check_query(spark, duck, "graph_triangle_count", sf_dir)


def test_triangle_degree_ordered_parity(spark, duck, sf_dir):
    from tests.oracle import check_query

    check_query(spark, duck, "graph_triangle_degree_ordered", sf_dir)


def test_triangle_degree_ordered_equals_id_ordered(spark, sf_dir):
    from logflow.queries import load_all

    reg = load_all()
    a = reg["graph_triangle_count"].fn(spark, sf_dir).toPandas()
    b = reg["graph_triangle_degree_ordered"].fn(spark, sf_dir).toPandas()
    sa = a.sort_values("p_partkey").reset_index(drop=True)
    sb = b.sort_values("p_partkey").reset_index(drop=True)
    assert sa.equals(sb)


def test_triangle_counts_symmetric_minimum(spark, sf_dir):
    """Every participating node closes at least one triangle, and the
    global triangle count (sum/3) is integral — each triangle contributes
    exactly one count to each of its three corners."""
    from logflow.queries import load_all

    pdf = load_all()["graph_triangle_count"].fn(spark, sf_dir).toPandas()
    if len(pdf):
        assert (pdf["n_triangles"] >= 1).all()
        assert int(pdf["n_triangles"].sum()) % 3 == 0


def test_recursive_cte_walks_parity(spark, duck, sf_dir):
    from tests.oracle import check_query

    check_query(spark, duck, "graph_walks_recursive_cte", sf_dir)


def test_recursive_cte_walks_invariants(spark, sf_dir):
    """Seeds have min_hops 0; every other reached node is 1-3 hops out;
    walk counts are >= 1 wherever a node was reached."""
    from logflow.queries import load_all

    import pytest as _pytest

    pdf = load_all()["graph_walks_recursive_cte"].fn(spark, sf_dir).toPandas()
    if not len(pdf):  # seed-dependent: the weight-floored graph can be empty
        _pytest.skip("regenerated data yields no weight>=2 edges at this SF")
    assert pdf["min_hops"].between(0, 3).all()
    assert (pdf["n_walks"] >= 1).all()
    assert (pdf["min_hops"] == 0).sum() <= 3  # at most the 3 seeds


def test_kcore_parity(spark, duck, sf_dir):
    from tests.oracle import check_query

    check_query(spark, duck, "graph_kcore_peel", sf_dir)


def test_kcore_is_subset_with_monotone_degrees(spark, sf_dir):
    """Survivors of the peel are a subset of the triangle-graph node set,
    and every survivor's induced degree never exceeds its original
    degree (peeling only removes edges)."""
    from pyspark.sql import functions as F

    from logflow.queries import load_all
    from logflow.queries.graph import _W_MIN, _copurchase_edges

    pdf = load_all()["graph_kcore_peel"].fn(spark, sf_dir).toPandas()
    e = _copurchase_edges(spark, sf_dir, ordered=True, w_min=_W_MIN)
    und = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    orig = {
        r.u: r.c
        for r in und.groupBy("u").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    for _, row in pdf.iterrows():
        assert row.core_deg <= orig[row.p_partkey]
        assert row.core_deg >= 1


def test_link_prediction_parity(spark, duck, sf_dir):
    from tests.oracle import check_query

    check_query(spark, duck, "graph_link_prediction", sf_dir)


def test_link_prediction_candidates_are_nonedges_with_real_overlap(spark, sf_dir):
    """Every predicted pair: is NOT an existing (w>=2) edge, has
    cn <= min(deg_a, deg_b), and jaccard recomputes exactly from the
    emitted integer counts."""
    import pytest

    from logflow.queries import load_all
    from logflow.queries.graph import _W_MIN, _copurchase_edges
    from logflow.operators.cache import release_all

    pdf = load_all()["graph_link_prediction"].fn(spark, sf_dir).toPandas()
    if len(pdf) == 0:
        pytest.skip("w>=2 graph has no distance-2 non-edges at this SF/seed")
    edges = {
        (r.u, r.v)
        for r in _copurchase_edges(spark, sf_dir, ordered=True, w_min=_W_MIN).collect()
    }
    release_all()
    for r in pdf.itertuples():
        assert (r.part_a, r.part_b) not in edges
        assert r.part_a < r.part_b
        assert 0 < r.common_neighbors <= min(r.deg_a, r.deg_b)
        expect = round(r.common_neighbors / (r.deg_a + r.deg_b - r.common_neighbors), 6)
        assert r.jaccard == expect


def test_cc_two_phase_parity(spark, duck, sf_dir):
    from tests.oracle import check_query

    check_query(spark, duck, "graph_cc_two_phase", sf_dir)


def test_cc_two_phase_equals_label_propagation(spark, sf_dir):
    """Both CC algorithms (large-star/small-star vs min-label propagation)
    must produce the identical (node, comp) labeling on the same sampled
    co-purchase graph."""
    from pyspark.sql import functions as F

    from logflow.operators.dedup import connected_components
    from logflow.operators.graph import two_phase_connected_components
    from logflow.queries.graph import _copurchase_edges

    edges = _copurchase_edges(spark, sf_dir, ordered=True, w_min=2).filter(
        (F.col("u") % 2 == 0) & (F.col("v") % 2 == 0)
    )
    two = {
        (r.node, r.comp) for r in two_phase_connected_components(edges).collect()
    }
    lp = {
        (r.node, r.comp)
        for r in connected_components(edges, src="u", dst="v").collect()
    }
    assert two == lp and len(two) > 0


def test_cc_two_phase_adversarial_shapes(spark):
    """Path (worst case for diameter-bound algorithms), star, two cliques
    joined by a bridge, plus isolates-from-self-loop-free edges — the
    two-phase scheme must label every shape with the component minimum."""
    from logflow.operators.graph import two_phase_connected_components

    path = [(i, i + 1) for i in range(20, 40)]  # diameter-20 path
    star = [(100, v) for v in range(101, 110)]
    cliq = [(a, b) for a in range(200, 205) for b in range(a + 1, 205)]
    cliq += [(a, b) for a in range(300, 305) for b in range(a + 1, 305)]
    bridge = [(204, 300)]
    selfloop = [(999, 999)]  # self-loop-only node: must emit as a singleton
    edges = spark.createDataFrame(
        path + star + cliq + bridge + selfloop, "u long, v long"
    )
    got = {(r.node, r.comp) for r in two_phase_connected_components(edges).collect()}
    want = {(v, 20) for v in range(20, 41)}
    want |= {(v, 100) for v in range(100, 110)}
    want |= {(v, 200) for v in list(range(200, 205)) + list(range(300, 305))}
    want |= {(999, 999)}
    assert got == want


def test_label_prop_parity(spark, duck, sf_dir):
    from tests.oracle import check_query

    check_query(spark, duck, "graph_label_prop_communities", sf_dir)


def test_label_prop_members_bound_and_refine_cc(spark, sf_dir):
    """Community sizes are consistent (min<=max, n>=2) and every
    community is CONTAINED in one connected component of the same graph
    (LPA refines CC — labels only travel along edges)."""
    from pyspark.sql import functions as F

    from logflow.operators.dedup import connected_components
    from logflow.queries import load_all
    from logflow.queries.graph import _copurchase_edges

    pdf = load_all()["graph_label_prop_communities"].fn(spark, sf_dir).toPandas()
    assert (pdf["n_members"] >= 2).all()
    assert (pdf["min_member"] <= pdf["max_member"]).all()
    edges = _copurchase_edges(spark, sf_dir, ordered=True, w_min=2)
    comp = {
        r.node: r.comp for r in connected_components(edges, src="u", dst="v").collect()
    }
    # community label is itself a node id; its min and max member must sit
    # in the label's connected component
    for r in pdf.itertuples():
        assert comp[r.min_member] == comp[r.community]
        assert comp[r.max_member] == comp[r.community]


def test_bfs_levels_parity(spark, duck, sf_dir):
    from tests.oracle import check_query

    check_query(spark, duck, "graph_bfs_levels", sf_dir)


def test_bfs_levels_invariants(spark, sf_dir):
    """Hop 0 is exactly the seed set; levels are non-empty, hop-ordered,
    and each level's checksum is consistent with its node count (sum of
    distinct non-negative ids >= count - 1 trivially; we assert the
    stronger seed identity for hop 0)."""
    from logflow.queries import load_all
    from logflow.queries.graph import _BFS_SEEDS, _copurchase_edges
    from logflow.operators.cache import release_all

    pdf = load_all()["graph_bfs_levels"].fn(spark, sf_dir).toPandas()
    assert list(pdf["hop"]) == sorted(pdf["hop"]) and (pdf["n_nodes"] > 0).all()
    assert pdf.iloc[0]["hop"] == 0 and pdf.iloc[0]["n_nodes"] == _BFS_SEEDS
    edges = _copurchase_edges(spark, sf_dir, ordered=False)
    seeds = sorted(
        r.u for r in edges.select("u").distinct().orderBy("u").limit(_BFS_SEEDS).collect()
    )
    assert pdf.iloc[0]["checksum"] == sum(seeds)
    release_all()


def test_sssp_weighted_parity(spark, duck, sf_dir):
    from tests.oracle import check_query

    check_query(spark, duck, "graph_sssp_weighted", sf_dir)


def test_sssp_weighted_invariants(spark, sf_dir):
    """Seed distance is 0; all distances non-negative and non-decreasing in
    rank order; every reported node is reachable (finite fixed-point dist);
    relaxing never beats a direct edge (dist(v) <= cost(seed,v))."""
    from pyspark.sql import functions as F

    from logflow.queries.graph import _SSSP_SCALE, graph_sssp_weighted, _copurchase_edges

    rows = graph_sssp_weighted(spark, sf_dir).collect()
    assert rows and rows[0].dist_fp == 0
    dists = [r.dist_fp for r in rows]
    assert all(d >= 0 for d in dists) and dists == sorted(dists)
    seed = rows[0].node
    direct = {
        r.v: _SSSP_SCALE // r.w
        for r in _copurchase_edges(spark, sf_dir, ordered=False, weighted=True)
        .filter(F.col("u") == seed)
        .collect()
    }
    by_node = {r.node: r.dist_fp for r in rows}
    for v, c in direct.items():
        if v in by_node:
            assert by_node[v] <= c, (v, by_node[v], c)


def test_temporal_reachability_parity(spark, duck, sf_dir):
    from tests.oracle import check_query

    check_query(spark, duck, "temporal_reachability_hops", sf_dir)


def test_temporal_reachability_monotone(spark, sf_dir):
    """Cumulative reached-user counts never decrease with hops, and hop 0
    equals the seed-set size (users with at least one error event)."""
    from pyspark.sql import functions as F

    from logflow.queries import load_all
    from logflow.sources.tables import load_table

    pdf = (
        load_all()["temporal_reachability_hops"].fn(spark, sf_dir).toPandas()
    )
    assert list(pdf["hop"]) == [0, 1, 2, 3]
    counts = list(pdf["n_users"])
    assert all(a <= b for a, b in zip(counts, counts[1:]))
    seeds = (
        load_table(spark, "events", sf_dir)
        .filter(F.col("event_type") == "error")
        .select("user_id")
        .distinct()
        .count()
    )
    assert counts[0] == seeds


def test_ppr_seed_parity(spark, duck, sf_dir):
    from tests.oracle import check_query

    check_query(spark, duck, "graph_ppr_seed", sf_dir)


def test_ppr_mass_concentrates_near_seed(spark, sf_dir):
    """Personalized ranks are positive only for nodes reachable from the
    seed basket, seeds are excluded from the output, and positions are a
    contiguous 1..k run."""
    from logflow.queries import load_all

    pdf = load_all()["graph_ppr_seed"].fn(spark, sf_dir).toPandas()
    assert len(pdf) > 0
    assert list(pdf["pos"]) == list(range(1, len(pdf) + 1))
    assert (pdf["rank_fp"] >= 0).all()
    assert (pdf["ppr"] >= 0).all()


def test_scc_forward_backward_parity(spark, duck, sf_dir):
    from tests.oracle import check_query

    check_query(spark, duck, "graph_scc_forward_backward", sf_dir)


def test_scc_is_intersection_and_converged(spark, sf_dir):
    """SCC size is bounded by both reachable sets, the pivot belongs to
    every set when edges exist, and at test SFs the hop cap suffices
    (converged=1 — the operator's exactness contract)."""
    from logflow.queries import load_all

    pdf = (
        load_all()["graph_scc_forward_backward"]
        .fn(spark, sf_dir)
        .toPandas()
        .set_index("metric")
    )
    assert set(pdf.index) == {"forward", "backward", "scc"}
    fw, bw, scc = (
        int(pdf.loc["forward", "n_nodes"]),
        int(pdf.loc["backward", "n_nodes"]),
        int(pdf.loc["scc", "n_nodes"]),
    )
    assert scc <= min(fw, bw)
    if fw > 0:
        # pivot is in FW ∩ BW by construction => SCC is non-empty
        assert scc >= 1
    assert (pdf["converged"] == 1).all()


def test_assortativity_parity(spark, duck, sf_dir):
    from tests.oracle import check_query

    check_query(spark, duck, "graph_degree_assortativity", sf_dir)


def test_assortativity_bounded(spark, sf_dir):
    from logflow.queries import load_all

    pdf = load_all()["graph_degree_assortativity"].fn(spark, sf_dir).toPandas()
    assert len(pdf) == 1
    r = pdf.iloc[0]["assortativity"]
    if r == r:  # not NaN (degenerate regular graph)
        assert -1.0 - 1e-9 <= r <= 1.0 + 1e-9


def test_hits_parity(spark, duck, sf_dir):
    from tests.oracle import check_query

    check_query(spark, duck, "graph_hits_hubs_authorities", sf_dir)


def test_hits_shape(spark, sf_dir):
    """Both kinds present, positions contiguous from 1, scores positive
    and <= the fixed-point scale with the max exactly at the scale."""
    from logflow.queries import load_all

    pdf = load_all()["graph_hits_hubs_authorities"].fn(spark, sf_dir).toPandas()
    for kind in ("authority", "hub"):
        sub = pdf[pdf["kind"] == kind].sort_values("pos")
        assert len(sub) > 0
        assert list(sub["pos"]) == list(range(1, len(sub) + 1))
        assert int(sub.iloc[0]["score_fp"]) == 1_000_000
        assert (sub["score_fp"] > 0).all()


def test_modularity_parity(spark, duck, sf_dir):
    from tests.oracle import check_query

    check_query(spark, duck, "graph_modularity_lpa", sf_dir)


def test_modularity_bounded(spark, sf_dir):
    """Q is bounded in [-0.5, 1] and the LPA assignment of a graph with
    real communities should be non-negative."""
    from logflow.queries import load_all

    pdf = load_all()["graph_modularity_lpa"].fn(spark, sf_dir).toPandas()
    assert len(pdf) == 1
    q = pdf.iloc[0]["modularity"]
    assert -0.5 - 1e-9 <= q <= 1.0 + 1e-9
    assert pdf.iloc[0]["n_communities"] >= 1


def test_clustering_coefficient_parity(spark, duck, sf_dir):
    from tests.oracle import check_query

    check_query(spark, duck, "graph_clustering_coefficient", sf_dir)


def test_clustering_coefficient_bounds(spark, sf_dir):
    from logflow.queries import load_all

    pdf = load_all()["graph_clustering_coefficient"].fn(spark, sf_dir).toPandas()
    assert 0 < len(pdf) <= 20
    assert ((pdf["clustering_coeff"] >= 0) & (pdf["clustering_coeff"] <= 1 + 1e-9)).all()
    assert (pdf["degree"] >= 3).all()
    # T <= C(d,2) always
    assert (pdf["n_triangles"] * 2 <= pdf["degree"] * (pdf["degree"] - 1)).all()


def test_scc_matches_pure_python_reachability(spark, sf_dir):
    """Independent replay: rebuild the temporal digraph in pandas with the
    same rule (earliest line per (order, part); u->v iff u ships strictly
    before v in >= 2 distinct orders), run plain BFS from the same pivot in
    both directions, and compare set sizes and id-checksums to the query."""
    from collections import defaultdict

    from logflow.queries import load_all
    from logflow.sources.tables import load_table

    got = (
        load_all()["graph_scc_forward_backward"]
        .fn(spark, sf_dir)
        .toPandas()
        .set_index("metric")
    )
    li = (
        load_table(spark, "lineitem", sf_dir)
        .select("l_orderkey", "l_partkey", "l_shipdate")
        .toPandas()
    )
    op = (
        li.groupby(["l_orderkey", "l_partkey"])["l_shipdate"].min().reset_index()
    )
    pair_orders = defaultdict(set)
    for o, grp in op.groupby("l_orderkey"):
        rows = list(zip(grp["l_partkey"], grp["l_shipdate"]))
        for pa, da in rows:
            for pb, db in rows:
                if pa != pb and da < db:
                    pair_orders[(pa, pb)].add(o)
    edges = {p for p, orders in pair_orders.items() if len(orders) >= 2}
    fwd, bwd = defaultdict(set), defaultdict(set)
    for u, v in edges:
        fwd[u].add(v)
        bwd[v].add(u)
    if not edges:
        assert int(got.loc["scc", "n_nodes"]) == 0
        return
    pivot = min(u for u, _ in edges)

    def reach(adj):
        seen, frontier = {pivot}, {pivot}
        while frontier:
            frontier = {w for n in frontier for w in adj[n]} - seen
            seen |= frontier
        return seen

    fw, bw = reach(fwd), reach(bwd)
    scc = fw & bw
    assert int(got.loc["forward", "n_nodes"]) == len(fw)
    assert int(got.loc["backward", "n_nodes"]) == len(bw)
    assert int(got.loc["scc", "n_nodes"]) == len(scc)
    assert int(got.loc["forward", "checksum"]) == sum(fw)
    assert int(got.loc["backward", "checksum"]) == sum(bw)
    assert int(got.loc["scc", "checksum"]) == sum(scc)


def test_hits_matches_int64_replay(spark, sf_dir):
    """Exact int64 replay of the 2 HITS rounds (integer pulls/pushes,
    truncating max-normalization) must reproduce the query's top-k
    fixed-point scores unit for unit."""
    from collections import defaultdict

    from logflow.queries import load_all
    from logflow.sources.tables import load_table

    got = load_all()["graph_hits_hubs_authorities"].fn(spark, sf_dir).toPandas()
    li = (
        load_table(spark, "lineitem", sf_dir)
        .select("l_orderkey", "l_partkey", "l_shipdate")
        .toPandas()
    )
    op = li.groupby(["l_orderkey", "l_partkey"])["l_shipdate"].min().reset_index()
    pair_orders = defaultdict(set)
    for o, grp in op.groupby("l_orderkey"):
        rows = list(zip(grp["l_partkey"], grp["l_shipdate"]))
        for pa, da in rows:
            for pb, db in rows:
                if pa != pb and da < db:
                    pair_orders[(pa, pb)].add(o)
    edges = [p for p, orders in pair_orders.items() if len(orders) >= 2]
    nodes = {u for u, _ in edges} | {v for _, v in edges}
    WS = 1_000_000
    h = {n: WS for n in nodes}
    a = {}
    for _ in range(2):
        raw = defaultdict(int)
        for u, v in edges:
            if u in h:
                raw[v] += h[u]
        mx = max(raw.values())
        a = {n: (s * WS) // mx for n, s in raw.items()}
        raw = defaultdict(int)
        for u, v in edges:
            if v in a:
                raw[u] += a[v]
        mx = max(raw.values())
        h = {n: (s * WS) // mx for n, s in raw.items()}
    for kind, scores in (("authority", a), ("hub", h)):
        sub = got[got["kind"] == kind]
        want = sorted(((-s, n) for n, s in scores.items()))[: len(sub)]
        for (neg_s, n), (_, row) in zip(want, sub.sort_values("pos").iterrows()):
            assert int(row["p_partkey"]) == n
            assert int(row["score_fp"]) == -neg_s


def test_closeness_sampled_parity(spark, duck, sf_dir):
    from tests.oracle import check_query

    check_query(spark, duck, "graph_closeness_sampled", sf_dir)


def test_closeness_sampled_invariants(spark, sf_dir):
    """closeness_fp is the exact integer image of (k-1)/sum_dist; rows are
    sorted by it descending with the part-key tiebreak; sum_dist >= k-1
    (full reach of k seeds, at most one zero self-distance)."""
    from logflow.operators.cache import release_all
    from logflow.queries import load_all
    from logflow.queries.graph import _CLOSE_SCALE, _CLOSE_SEEDS

    pdf = load_all()["graph_closeness_sampled"].fn(spark, sf_dir).toPandas()
    assert len(pdf) > 0
    assert (pdf["sum_dist"] >= _CLOSE_SEEDS - 1).all()
    expect = ((_CLOSE_SEEDS - 1) * _CLOSE_SCALE) // pdf["sum_dist"]
    assert (pdf["closeness_fp"] == expect).all()
    key = list(zip(-pdf["closeness_fp"], pdf["p_partkey"]))
    assert key == sorted(key)
    release_all()


def test_katz_parity(spark, duck, sf_dir):
    from tests.oracle import check_query

    check_query(spark, duck, "graph_katz_centrality", sf_dir)


def test_katz_invariants(spark, sf_dir):
    """Every Katz score is >= the beta base (1e12 fixed point), the
    output is sorted by score descending with the part-key tiebreak,
    and the double column is the rounded image of the fixed point."""
    from logflow.operators.cache import release_all
    from logflow.queries import load_all
    from logflow.queries.graph import _KATZ_SCALE

    pdf = load_all()["graph_katz_centrality"].fn(spark, sf_dir).toPandas()
    assert len(pdf) > 0
    assert (pdf["katz_fp"] >= _KATZ_SCALE).all()
    key = list(zip(-pdf["katz_fp"], pdf["p_partkey"]))
    assert key == sorted(key)
    assert (abs(pdf["katz"] - (pdf["katz_fp"] / _KATZ_SCALE).round(6)) < 1e-9).all()
    release_all()


def test_rich_club_parity(spark, duck, sf_dir):
    from tests.oracle import check_query

    check_query(spark, duck, "graph_rich_club", sf_dir)


def test_rich_club_monotone_counts(spark, sf_dir):
    """N_k and E_k are nonincreasing in k; phi in [0,1]."""
    from logflow.operators.cache import release_all
    from logflow.queries import load_all

    pdf = load_all()["graph_rich_club"].fn(spark, sf_dir).toPandas()
    assert (pdf["n_rich"].diff().dropna() <= 0).all()
    assert (pdf["e_rich"].diff().dropna() <= 0).all()
    ok = pdf["phi"].dropna()
    assert ((ok >= 0) & (ok <= 1.0 + 1e-9)).all()
    release_all()


def test_betweenness_sampled_invariants(spark, sf_dir):
    """Betweenness scores are nonnegative integers at 1e6 scale; sampled
    sources themselves never appear (Brandes excludes endpoints); ordering
    is by the exact fixed-point score."""
    from logflow.queries import load_all

    pdf = load_all()["graph_betweenness_sampled"].fn(spark, sf_dir).toPandas()
    if len(pdf) == 0:
        import pytest

        pytest.skip("no intermediate node within the hop horizon at this SF/seed")
    assert (pdf["bc_fp"] > 0).all()
    bc = pdf["bc_fp"].to_numpy()
    assert (bc[:-1] >= bc[1:]).all()
    assert (
        (pdf["betweenness"] - pdf["bc_fp"] / 1e6 / 4).abs() < 1e-6
    ).all()


def test_ktruss_membership(spark, sf_dir):
    """Every k-truss member has truss degree >= k-1 is NOT guaranteed
    after fixed rounds, but membership must be a subset of the
    weight-floored graph's nodes and degrees must be positive and even
    counts of undirected incidences are impossible — assert the sound
    invariants: positive degrees, subset of base nodes."""
    from logflow.queries import load_all
    from logflow.queries.graph import _copurchase_edges

    pdf = load_all()["graph_ktruss"].fn(spark, sf_dir).toPandas()
    if len(pdf) == 0:
        import pytest

        pytest.skip("no edge survives the truss peel at this SF/seed")
    assert (pdf["truss_degree"] > 0).all()
    e = _copurchase_edges(spark, sf_dir, ordered=True, w_min=2).toPandas()
    base_nodes = set(e["u"]) | set(e["v"])
    assert set(pdf["p_partkey"]).issubset(base_nodes)


def test_louvain_refine_parity(spark, duck, sf_dir):
    from tests.oracle import check_query

    check_query(spark, duck, "graph_louvain_refine", sf_dir)


def test_louvain_refine_invariants(spark, sf_dir):
    """Exact-fixed-point identities: q4m2/(4m^2) reproduces the rounded
    modularity columns; modularity stays in [-0.5, 1]; zero moves implies
    identical before/after partition stats."""
    from logflow.queries import load_all

    r = load_all()["graph_louvain_refine"].fn(spark, sf_dir).toPandas().iloc[0]
    m = int(r.m_edges)
    assert m > 0
    for q4, q in ((r.q4m2_before, r.q_before), (r.q4m2_after, r.q_after)):
        assert abs(q - round(int(q4) / (4.0 * m * m), 6)) < 1e-12
        assert -0.5 - 1e-9 <= q <= 1.0 + 1e-9
    assert 0 <= r.n_moves <= r.m_edges * 2
    if r.n_moves == 0:
        assert r.q4m2_before == r.q4m2_after
        assert r.n_comm_before == r.n_comm_after


def test_graph_adamic_adar(spark, duck, sf_dir):
    from tests.oracle import check_query

    check_query(spark, duck, "graph_adamic_adar", sf_dir)


def test_graph_adamic_adar_semantics(spark, sf_dir):
    """Reported pairs are non-adjacent, share exactly n_common >= 1
    neighbors, and the fixed-point score reproduces from a pure-Python
    recomputation over the same weight-floored graph."""
    import math

    from logflow.queries import load_all
    from logflow.queries.graph import _AA_WSCALE, _W_MIN, _copurchase_edges

    pdf = load_all()["graph_adamic_adar"].fn(spark, sf_dir).toPandas()
    assert len(pdf) > 0
    edges = _copurchase_edges(spark, sf_dir, ordered=True, w_min=_W_MIN).toPandas()
    adj: dict[int, set[int]] = {}
    for r in edges.itertuples():
        adj.setdefault(r.u, set()).add(r.v)
        adj.setdefault(r.v, set()).add(r.u)
    eset = {(r.u, r.v) for r in edges.itertuples()}
    for r in pdf.itertuples():
        assert (r.part_a, r.part_b) not in eset
        common = adj[r.part_a] & adj[r.part_b]
        assert len(common) == r.n_common >= 1
        want = sum(
            _AA_WSCALE // int(round(math.log(len(adj[z])) * 1000000))
            for z in common
        )
        assert r.aa_fp == want, (r.part_a, r.part_b, r.aa_fp, want)


def test_louvain_refine_without_pinned_threads(spark, duck, sf_dir, monkeypatch):
    """With py4j pinned-thread mode off, inheritable_thread_target(spark)
    returns the session itself; the Louvain overlap must then submit its
    checkpoints unwrapped instead of calling the session."""
    import pyspark

    from logflow.queries.graph import _thread_target
    from tests.oracle import check_query

    monkeypatch.setattr(pyspark, "inheritable_thread_target", lambda f=None: f)

    def target():
        return 1

    assert _thread_target(spark, target) is target
    check_query(spark, duck, "graph_louvain_refine", sf_dir)


def test_bfs_visited_broadcast_falls_back_above_bound(spark, duck, sf_dir, monkeypatch):
    """BFS hints its visited set for broadcast only while its estimated
    hashed-relation size fits spark.sql.autoBroadcastJoinThreshold. With
    the threshold set to the seeds' size, only the first hop hints the
    visited set (every hop still hints its frontier); with broadcasts off
    no hop hints it. The levels match the oracle either way."""
    from pyspark.sql import functions as F

    from logflow.operators.cache import release_all
    from logflow.queries import graph, load_all
    from tests.oracle import check_query

    calls = []
    real = F.broadcast

    def spy(df):
        calls.append(df)
        return real(df)

    monkeypatch.setattr(F, "broadcast", spy)
    fn = load_all()["graph_bfs_levels"].fn
    fn(spark, sf_dir).collect()
    release_all()
    hops = len(calls) // 2
    assert hops > 1 and len(calls) == 2 * hops  # frontier + visited per hop

    key = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(key)
    try:
        for threshold, visited_hints in [
            (graph._BFS_VISITED_ROW_BYTES * graph._BFS_SEEDS, 1),
            (-1, 0),
        ]:
            spark.conf.set(key, str(threshold))
            calls.clear()
            check_query(spark, duck, "graph_bfs_levels", sf_dir)
            assert len(calls) == hops + visited_hints, (threshold, len(calls))
    finally:
        spark.conf.set(key, before)
