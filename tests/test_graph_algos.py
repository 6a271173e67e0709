"""BFS / personalized PageRank / HITS / link-prediction vs single-node
references (networkx + ref_single_node numpy oracles)."""

import numpy as np
import pytest

from linkgraph.derive import build_graph
from linkgraph.hits import hits_scores, salsa_scores
from linkgraph.linkpred import (
    clustering_coefficients,
    degree_histogram,
    jaccard_pairs,
)
from linkgraph.pregel import (
    BFS_INF,
    BFSProgram,
    GraphContext,
    PersonalizedPageRankProgram,
    SSSPProgram,
    run_program,
)
from linkgraph.ref_single_node import bfs_ref, hits_ref, ppr_ref, salsa_ref, sssp_ref
from linkgraph.synth import micro_transcripts, synth_transcripts

from .conftest import edges_numpy

P = 8


@pytest.fixture(scope="module")
def synth_ctx(spark):
    g = build_graph(synth_transcripts(spark, n_conversations=60, seed=42))
    ctx = GraphContext.build(g, P)
    yield g, ctx
    ctx.unpersist()


def _col(state, name, n, fill=0):
    pdf = state.toPandas()
    out = np.full(n, fill, dtype=np.asarray(pdf[name]).dtype)
    out[pdf["vid"].to_numpy(np.int64)] = pdf[name].to_numpy()
    return out


# -- BFS --------------------------------------------------------------------

def test_bfs_matches_reference_and_networkx(spark, synth_ctx):
    import networkx as nx

    g, ctx = synth_ctx
    src, dst, _w, n = edges_numpy(g)
    sources = spark.createDataFrame([(0,)], "vid long")
    res = run_program(ctx, BFSProgram(sources), max_iter=100)
    assert res.converged
    dist = _col(res.state, "dist", n)
    dist = np.where(dist == int(BFS_INF), -1, dist)

    ref = bfs_ref(src, dst, n, np.array([0]))
    assert (dist == ref).all()

    G = nx.Graph()
    G.add_nodes_from(range(n))
    G.add_edges_from((s, d) for s, d in zip(src, dst) if s != d)
    nxd = nx.single_source_shortest_path_length(G, 0)
    for v in range(n):
        assert dist[v] == nxd.get(v, -1)


def test_bfs_multi_source(spark, synth_ctx):
    g, ctx = synth_ctx
    src, dst, _w, n = edges_numpy(g)
    seeds = [0, n - 1, n // 2]
    sources = spark.createDataFrame([(s,) for s in seeds], "vid long")
    res = run_program(ctx, BFSProgram(sources), max_iter=100)
    dist = _col(res.state, "dist", n)
    dist = np.where(dist == int(BFS_INF), -1, dist)
    assert (dist == bfs_ref(src, dst, n, np.array(seeds))).all()


def test_bfs_hub_split_equals_unsplit(spark):
    """Forced undirected hub split (star_hub fixture) changes the plan, not
    the distances."""
    g = build_graph(micro_transcripts(spark, "star_hub"))
    src, dst, _w, n = edges_numpy(g)
    sources = spark.createDataFrame([(0,)], "vid long")

    ctx_plain = GraphContext.build(g, 4)
    ctx_split = GraphContext.build(g, 4, hub_theta=2, hub_floor=0)
    try:
        assert ctx_split.nnz_uhub > 0  # split actually engaged
        d1 = _col(run_program(ctx_plain, BFSProgram(sources), max_iter=50).state, "dist", n)
        d2 = _col(run_program(ctx_split, BFSProgram(sources), max_iter=50).state, "dist", n)
        assert (d1 == d2).all()
        assert (d1 == np.where(bfs_ref(src, dst, n, np.array([0])) == -1, int(BFS_INF), bfs_ref(src, dst, n, np.array([0])))).all()
    finally:
        ctx_plain.unpersist()
        ctx_split.unpersist()


# -- weighted SSSP ------------------------------------------------------------

def test_sssp_matches_reference_and_networkx(spark, synth_ctx):
    import networkx as nx

    g, ctx = synth_ctx
    src, dst, w, n = edges_numpy(g)
    sources = spark.createDataFrame([(0,)], "vid long")
    res = run_program(ctx, SSSPProgram(sources), max_iter=200)
    assert res.converged
    dist = _col(res.state, "dist", n, fill=np.inf).astype(np.float64)

    ref = sssp_ref(src, dst, w, n, np.array([0]))
    finite = np.isfinite(ref)
    assert (np.isfinite(dist) == finite).all()
    assert np.allclose(dist[finite], ref[finite])

    G = nx.DiGraph()
    G.add_nodes_from(range(n))
    for s, d, ww in zip(src, dst, w):
        # engine relaxes on the pre-SUMMED simple edge table (esum)
        if G.has_edge(s, d):
            G[s][d]["weight"] += float(ww)
        else:
            G.add_edge(s, d, weight=float(ww))
    nxd = nx.single_source_dijkstra_path_length(G, 0)
    for v in range(n):
        if v in nxd:
            assert abs(dist[v] - nxd[v]) < 1e-9
        else:
            assert not np.isfinite(dist[v])


def test_sssp_hub_split_equals_unsplit(spark):
    """Forced DIRECTED hub split: the broadcast hub path must relax on the
    raw w column and give identical distances."""
    g = build_graph(micro_transcripts(spark, "star_hub"))
    src, dst, w, n = edges_numpy(g)
    sources = spark.createDataFrame([(0,)], "vid long")
    ctx_plain = GraphContext.build(g, 4)
    # star_hub's hub is on the IN side; the directed split keys on
    # out-degree, so theta=0 forces every src through the broadcast path
    ctx_split = GraphContext.build(g, 4, hub_theta=0, hub_floor=0)
    try:
        assert ctx_split.nnz_hub > 0
        d1 = _col(run_program(ctx_plain, SSSPProgram(sources), max_iter=50).state, "dist", n, fill=np.inf)
        d2 = _col(run_program(ctx_split, SSSPProgram(sources), max_iter=50).state, "dist", n, fill=np.inf)
        f1, f2 = np.isfinite(d1), np.isfinite(d2)
        assert (f1 == f2).all()
        assert np.allclose(d1[f1], d2[f2])
        ref = sssp_ref(src, dst, w, n, np.array([0]))
        assert (np.isfinite(ref) == f1).all()
        assert np.allclose(d1[f1], ref[np.isfinite(ref)])
    finally:
        ctx_plain.unpersist()
        ctx_split.unpersist()


# -- widest path (max-min semiring) -------------------------------------------

def test_widest_path_matches_reference(spark, synth_ctx):
    """Converged max-bottleneck capacities == the numpy max-min fixpoint,
    and a fixed-iteration run == the same-count synchronous replay (the
    property the driver's unrolled-CTE oracle relies on)."""
    from linkgraph.pregel import WidestPathProgram
    from linkgraph.ref_single_node import widest_ref

    g, ctx = synth_ctx
    src, dst, w, n = edges_numpy(g)
    sources = spark.createDataFrame([(0,)], "vid long")

    res = run_program(ctx, WidestPathProgram(sources), max_iter=200)
    assert res.converged
    cap = _col(res.state, "cap", n, fill=-np.inf).astype(np.float64)
    ref = widest_ref(src, dst, w, n, np.array([0]))
    assert np.array_equal(cap, ref)  # min/max of identical sets: bitwise

    res3 = run_program(ctx, WidestPathProgram(sources), fixed_iters=3)
    cap3 = _col(res3.state, "cap", n, fill=-np.inf).astype(np.float64)
    ref3 = widest_ref(src, dst, w, n, np.array([0]), iters=3)
    assert np.array_equal(cap3, ref3)

    # semantic spot-check: direct source->v edges lower-bound the capacity
    esum = {}
    for s, d, ww in zip(src, dst, w):
        esum[(s, d)] = esum.get((s, d), 0.0) + float(ww)
    for (s, d), ww in esum.items():
        if s == 0 and np.isfinite(cap[d]):
            assert cap[d] >= ww


def test_widest_hub_split_equals_unsplit(spark):
    """Forced DIRECTED hub split: the broadcast hub path must relax
    min(cap, w) on the raw w column and give identical capacities."""
    from linkgraph.pregel import WidestPathProgram
    from linkgraph.ref_single_node import widest_ref

    g = build_graph(micro_transcripts(spark, "star_hub"))
    src, dst, w, n = edges_numpy(g)
    sources = spark.createDataFrame([(0,)], "vid long")
    ctx_plain = GraphContext.build(g, 4)
    ctx_split = GraphContext.build(g, 4, hub_theta=0, hub_floor=0)
    try:
        assert ctx_split.nnz_hub > 0
        c1 = _col(run_program(ctx_plain, WidestPathProgram(sources), max_iter=50).state, "cap", n, fill=-np.inf)
        c2 = _col(run_program(ctx_split, WidestPathProgram(sources), max_iter=50).state, "cap", n, fill=-np.inf)
        assert np.array_equal(c1, c2)
        ref = widest_ref(src, dst, w, n, np.array([0]))
        assert np.array_equal(c1, ref)
    finally:
        ctx_plain.unpersist()
        ctx_split.unpersist()


# -- personalized PageRank ----------------------------------------------------

def test_ppr_matches_reference(spark, synth_ctx):
    g, ctx = synth_ctx
    src, dst, w, n = edges_numpy(g)
    seeds = list(range(0, n, 7))
    seed_df = spark.createDataFrame([(s,) for s in seeds], "vid long")
    res = run_program(
        ctx, PersonalizedPageRankProgram(seed_df, tol=1e-8), max_iter=300
    )
    assert res.converged
    r = _col(res.state, "rank", n).astype(np.float64)
    r_ref, it_ref = ppr_ref(src, dst, w, n, np.array(seeds), tol=1e-8)
    assert res.supersteps == it_ref
    assert np.allclose(r, r_ref, atol=1e-6)
    assert abs(r.sum() - 1.0) < 1e-8  # teleport + dangling both go to seeds


def test_ppr_mass_concentrates_on_seed_side(spark, synth_ctx):
    """Sanity: a single-seed PPR puts more mass on the seed than uniform."""
    g, ctx = synth_ctx
    n = ctx.n_vertices
    seed_df = spark.createDataFrame([(0,)], "vid long")
    res = run_program(ctx, PersonalizedPageRankProgram(seed_df, tol=1e-8), max_iter=300)
    r = _col(res.state, "rank", n).astype(np.float64)
    assert r[0] > 1.0 / n


# -- HITS ---------------------------------------------------------------------

def test_hits_matches_reference(spark, synth_ctx):
    g, _ctx = synth_ctx
    src, dst, _w, n = edges_numpy(g)
    out = hits_scores(g, iters=5).toPandas()
    a = np.zeros(n)
    h = np.zeros(n)
    a[out["vid"].to_numpy(np.int64)] = out["authority"].to_numpy()
    h[out["vid"].to_numpy(np.int64)] = out["hub"].to_numpy()
    a_ref, h_ref = hits_ref(src, dst, n, iters=5)
    assert np.allclose(a, a_ref, atol=1e-9)
    assert np.allclose(h, h_ref, atol=1e-9)
    assert abs(a.sum() - 1.0) < 1e-9 and abs(h.sum() - 1.0) < 1e-9


# -- link prediction / local structure ---------------------------------------

def test_clustering_coefficients_vs_networkx(spark, synth_ctx):
    import networkx as nx

    g, _ctx = synth_ctx
    src, dst, _w, n = edges_numpy(g)
    out = clustering_coefficients(g).toPandas()
    lcc = np.zeros(n)
    lcc[out["vid"].to_numpy(np.int64)] = out["lcc"].to_numpy()
    G = nx.Graph()
    G.add_nodes_from(range(n))
    G.add_edges_from((s, d) for s, d in zip(src, dst) if s != d)
    nx_lcc = nx.clustering(G)
    assert np.allclose(lcc, [nx_lcc[v] for v in range(n)], atol=1e-12)


def test_jaccard_pairs_vs_networkx(spark, synth_ctx):
    import networkx as nx

    g, _ctx = synth_ctx
    src, dst, _w, n = edges_numpy(g)
    G = nx.Graph()
    G.add_nodes_from(range(n))
    G.add_edges_from((s, d) for s, d in zip(src, dst) if s != d)

    out = jaccard_pairs(g).toPandas()
    assert len(out) > 0
    got = {(int(r.p), int(r.q)): (int(r.common), float(r.jaccard)) for r in out.itertuples()}

    # every produced pair: non-adjacent, correct score
    for (p, q), (common, jac) in got.items():
        assert not G.has_edge(p, q)
        nxj = next(iter(nx.jaccard_coefficient(G, [(p, q)])))[2]
        assert abs(jac - nxj) < 1e-12
        assert common == len(set(G[p]) & set(G[q]))

    # completeness: every non-adjacent pair with >=1 common neighbor appears
    expected = 0
    for p in range(n):
        for q in range(p + 1, n):
            if not G.has_edge(p, q) and set(G[p]) & set(G[q]):
                expected += 1
    assert len(got) == expected


def test_adamic_adar_vs_networkx(spark, synth_ctx):
    import networkx as nx

    from linkgraph.linkpred import adamic_adar_pairs

    g, _ctx = synth_ctx
    src, dst, _w, n = edges_numpy(g)
    G = nx.Graph()
    G.add_nodes_from(range(n))
    G.add_edges_from((s, d) for s, d in zip(src, dst) if s != d)

    out = adamic_adar_pairs(g).toPandas()
    assert len(out) > 0
    for r in out.itertuples():
        p, q = int(r.p), int(r.q)
        assert not G.has_edge(p, q)
        nxa = next(iter(nx.adamic_adar_index(G, [(p, q)])))[2]
        assert abs(float(r.aa) - nxa) < 1e-9
        assert int(r.common) == len(set(G[p]) & set(G[q]))


def test_jaccard_max_deg_excludes_hub_wedges(spark):
    """star_hub: every leaf pair shares only the hub; max_deg below the hub
    degree must yield no candidates."""
    g = build_graph(micro_transcripts(spark, "star_hub"))
    assert jaccard_pairs(g).count() > 0
    assert jaccard_pairs(g, max_deg=3).count() == 0


def test_degree_histogram_sums_to_vertex_count(spark, synth_ctx):
    g, ctx = synth_ctx
    hist = degree_histogram(g).toPandas()
    assert int(hist["n_vertices"].sum()) == ctx.n_vertices
    src, dst, _w, n = edges_numpy(g)
    ed = np.unique(np.stack([src, dst], axis=1), axis=0)
    deg = np.zeros(n, dtype=np.int64)
    np.add.at(deg, ed[:, 0], 1)
    want = {int(k): int(v) for k, v in zip(*np.unique(deg, return_counts=True))}
    got = {int(r.out_deg): int(r.n_vertices) for r in hist.itertuples()}
    assert got == want


def test_harmonic_landmark_vs_networkx(spark, synth_ctx):
    """Landmark harmonic centrality (engine_queries.engine_harmonic shape):
    per-seed fixed-6-superstep BFS reduced to Σ 1/d must equal networkx
    distances truncated at 6 hops, seed self-distances excluded."""
    import networkx as nx

    g, ctx = synth_ctx
    src, dst, _w, n = edges_numpy(g)
    K = 6
    seeds = [0, 1, 2]

    dists = []
    for s in seeds:
        res = run_program(
            ctx,
            BFSProgram(spark.createDataFrame([(s,)], "vid long")),
            fixed_iters=K,
        )
        dists.append(_col(res.state, "dist", n))

    G = nx.Graph()
    G.add_nodes_from(range(n))
    G.add_edges_from((a, b) for a, b in zip(src, dst) if a != b)

    INF = int(BFS_INF)
    for v in range(n):
        got = sum(1.0 / d[v] for d in dists if 0 < d[v] < INF)
        want = 0.0
        for s in seeds:
            nxd = nx.single_source_shortest_path_length(G, s).get(v)
            if nxd is not None and 0 < nxd <= K:
                want += 1.0 / nxd
        assert abs(got - want) < 1e-12, (v, got, want)


def test_random_walks_follow_edges(spark):
    """Every walk endpoint must be reachable from its start within `hops`
    directed steps (validity), hops==0 walkers never moved, and the salted
    hash choice makes two runs bit-identical (determinism)."""
    import networkx as nx

    from linkgraph.linkpred import _WALK_STEPS, q_random_walks

    sf = "/root/testdata/sf0.001"
    a = q_random_walks(spark, sf).toPandas().sort_values("start_key")
    b = q_random_walks(spark, sf).toPandas().sort_values("start_key")
    assert a.reset_index(drop=True).equals(b.reset_index(drop=True))

    ev = spark.read.parquet(f"{sf}/events.parquet").toPandas()
    ev = ev.sort_values(["user_id", "ts", "event_id"], kind="mergesort")
    G = nx.DiGraph()
    for _u, grp in ev.groupby("user_id"):
        types = grp["event_type"].tolist()
        G.add_edges_from(zip(types[:-1], types[1:]))
        for t in types:
            G.add_edge(f"user:{_u}", t)

    for r in a.itertuples():
        assert 0 <= r.hops <= _WALK_STEPS
        if r.hops == 0:
            assert r.end_key == r.start_key
            assert G.out_degree(r.start_key) == 0
        else:
            d = nx.shortest_path_length(G, r.start_key, r.end_key)
            assert d <= r.hops


def test_engine_scc_vs_networkx(spark):
    """Pivot SCC membership (engine_queries.engine_scc): forward-backward
    6-hop reachability on the directed events graph must equal networkx
    distances both ways from/to the min-vkey pivot."""
    import networkx as nx

    from linkgraph.engine_queries import engine_scc

    sf = "/root/testdata/sf0.001"
    out = {r["vkey"]: (r["fwd_hops"], r["bwd_hops"]) for r in engine_scc(spark, sf).collect()}

    ev = spark.read.parquet(f"{sf}/events.parquet").toPandas()
    ev = ev.sort_values(["user_id", "ts", "event_id"], kind="mergesort")
    G = nx.DiGraph()
    for u, grp in ev.groupby("user_id"):
        types = grp["event_type"].tolist()
        G.add_edges_from(zip(types[:-1], types[1:]))
        for t in types:
            G.add_edge(f"user:{u}", t)
    pivot = min(G.nodes)
    fwd = nx.single_source_shortest_path_length(G, pivot, cutoff=6)
    bwd = nx.single_source_shortest_path_length(G.reverse(copy=False), pivot, cutoff=6)
    want = {v: (fwd[v], bwd[v]) for v in fwd if v in bwd}
    assert out == want
    assert len(out) >= 2  # pivot + at least one mutual-reach vertex


def test_salsa_matches_reference(spark, synth_ctx):
    """Fixed-5-iteration SALSA (degree-normalized HITS) must match the
    numpy single-node reference to 1e-9 and stay L1-normalized."""
    g, _ctx = synth_ctx
    src, dst, _w, n = edges_numpy(g)
    out = salsa_scores(g, iters=5).toPandas()
    a = np.zeros(n)
    h = np.zeros(n)
    a[out["vid"].to_numpy(np.int64)] = out["authority"].to_numpy()
    h[out["vid"].to_numpy(np.int64)] = out["hub"].to_numpy()
    a_ref, h_ref = salsa_ref(src, dst, n, iters=5)
    assert np.allclose(a, a_ref, atol=1e-9)
    assert np.allclose(h, h_ref, atol=1e-9)
    assert abs(a.sum() - 1.0) < 1e-9 and abs(h.sum() - 1.0) < 1e-9
    # degree normalization is the point: SALSA must NOT equal HITS here
    a_hits, _ = hits_ref(src, dst, n, iters=5)
    assert not np.allclose(a, a_hits, atol=1e-6)


def test_hits_empty_edge_set_yields_zeros(spark):
    """Zero-sum guard (ADVICE r03 #3): with no edges the L1 normalizer's
    global sum is 0 — scores must come back 0, not NULL."""
    from linkgraph.derive import GraphTables, build_degrees

    vertices = spark.createDataFrame(
        [("a", 0, "actor"), ("b", 1, "actor")], "vkey string, vid long, vtype string"
    )
    edges = spark.createDataFrame(
        [], "src long, dst long, etype string, w double"
    )
    g = GraphTables(vertices, edges, build_degrees(edges, vertices))
    out = hits_scores(g, iters=3).toPandas()
    assert len(out) == 2
    assert not out["authority"].isna().any()
    assert not out["hub"].isna().any()
    assert (out["authority"] == 0.0).all()
    assert (out["hub"] == 0.0).all()


def test_modularity_matches_networkx(spark):
    """q_modularity (engine LPA labels + Catalyst aggregate) vs
    nx.community.modularity on the SAME partition and the SAME undirected
    simple events graph at sf0.001 — checks the per-community contributions
    sum to Newman's Q and that every vertex is counted exactly once."""
    import networkx as nx

    from linkgraph.engine_queries import engine_labelprop, q_modularity
    from linkgraph.flagship import events_graph
    from linkgraph.io import load_table

    sf_dir = "/root/testdata/sf0.001"
    g = events_graph(load_table(spark, sf_dir, "events"))
    vkey = {r["vid"]: r["vkey"] for r in g.vertices.collect()}
    G = nx.Graph()
    G.add_nodes_from(vkey.values())
    for r in g.edges.select("src", "dst").collect():
        if r["src"] != r["dst"]:
            G.add_edge(vkey[r["src"]], vkey[r["dst"]])

    labels = {
        r["vkey"]: r["label_key"]
        for r in engine_labelprop(spark, sf_dir).collect()
    }
    comms: dict[str, set] = {}
    for vk, lbl in labels.items():
        comms.setdefault(lbl, set()).add(vk)
    q_nx = nx.community.modularity(G, comms.values(), weight=None)

    rows = q_modularity(spark, sf_dir).collect()
    assert sum(r["n_vertices"] for r in rows) == len(labels)
    assert {r["label_key"] for r in rows} == set(comms)
    assert sum(r["q_contrib"] for r in rows) == pytest.approx(q_nx, abs=1e-3)
    # per-community: internal_pairs is the directed-adjacency count = 2×
    # the undirected internal edge count
    for r in rows:
        internal = sum(
            1 for a, b in G.edges(comms[r["label_key"]])
            if labels[a] == labels[b]
        )
        assert r["internal_pairs"] == 2 * internal


def test_tool_cousage_matches_python(spark):
    """q_tool_cousage vs a pure-python bipartite projection over the
    sf0.001 events table, including the hub-key guard and min-shared
    threshold."""
    from itertools import combinations

    from linkgraph.io import load_table
    from linkgraph.linkpred import (
        _COUSAGE_MAX_ACTORS,
        _COUSAGE_MIN_SHARED,
        q_tool_cousage,
    )

    rows = (
        load_table(spark, "/root/testdata/sf0.001", "events")
        .select("user_id", "event_type", "ts")
        .collect()
    )
    ak = {
        (r["user_id"], r["event_type"],
         r["ts"].replace(minute=0, second=0, microsecond=0))
        for r in rows
    }
    by_key: dict[tuple, set] = {}
    for actor, tool, b in ak:
        by_key.setdefault((tool, b), set()).add(actor)
    shared: dict[tuple, int] = {}
    for actors in by_key.values():
        if len(actors) > _COUSAGE_MAX_ACTORS:
            continue
        for u1, u2 in combinations(sorted(actors), 2):
            shared[(u1, u2)] = shared.get((u1, u2), 0) + 1
    exp = sorted(
        ((u1, u2, c) for (u1, u2), c in shared.items()
         if c >= _COUSAGE_MIN_SHARED),
        key=lambda t: (-t[2], t[0], t[1]),
    )[:50]

    got = [
        (r["u1"], r["u2"], r["shared"])
        for r in q_tool_cousage(spark, "/root/testdata/sf0.001").collect()
    ]
    assert got == exp
    assert len(exp) > 0  # fixture actually produces co-usage pairs


def test_temporal_paths2_matches_python(spark):
    """q_temporal_paths2 (banded hour-bucket join) vs a from-scratch
    time-respecting 2-hop count with the plain range predicate — proves
    the band decomposition {b, b−1} loses no pairs at bucket boundaries."""
    from collections import defaultdict
    from datetime import timedelta

    from linkgraph.io import load_table
    from linkgraph.linkpred import _TP_TOPK, q_temporal_paths2

    rows = (
        load_table(spark, "/root/testdata/sf0.001", "events")
        .select("user_id", "event_id", "event_type", "ts")
        .collect()
    )
    by_user = defaultdict(list)
    for r in rows:
        by_user[r["user_id"]].append((r["ts"], r["event_id"], r["event_type"]))
    te = set()
    for evs in by_user.values():
        evs.sort()
        for (_t1, _e1, a), (t2, _e2, b) in zip(evs, evs[1:]):
            if a != b:
                te.add((a, b, t2))
    n = defaultdict(int)
    te = sorted(te)
    for s1, t1, ts1 in te:
        for s2, t2, ts2 in te:
            if s2 == t1 and ts2 > ts1 and ts2 <= ts1 + timedelta(hours=1):
                n[(s1, t2)] += 1
    exp = sorted(
        ((src, dst, c) for (src, dst), c in n.items()),
        key=lambda t: (-t[2], t[0], t[1]),
    )[:_TP_TOPK]
    got = [
        (r["src"], r["dst"], r["n_paths"])
        for r in q_temporal_paths2(spark, "/root/testdata/sf0.001").collect()
    ]
    assert got == exp
    assert len(got) > 0


def test_node2vec_walks_match_python_replication(spark):
    """Exact from-scratch replication of the biased second-order walk:
    p/q classification against prev, integer weight replication, salted
    min-hash pick, path fingerprint — every walker's full trajectory must
    match, and the bias must actually fire (at least one walker must pick
    a candidate that the UNBIASED rule would not)."""
    import hashlib
    from collections import defaultdict

    from linkgraph.linkpred import (
        _N2V_FP_MOD,
        _N2V_K_COMMON,
        _N2V_K_FORWARD,
        _N2V_K_RETURN,
        _N2V_STEPS,
        q_node2vec_walks,
    )

    sf = "/root/testdata/sf0.001"

    def h(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    ev = spark.read.parquet(f"{sf}/events.parquet").toPandas()
    ev = ev.sort_values(["user_id", "ts", "event_id"], kind="mergesort")
    ed = set()
    for u, grp in ev.groupby("user_id"):
        types = grp["event_type"].tolist()
        ed.update(zip(types[:-1], types[1:]))
        for t in types:
            ed.add((f"user:{u}", t))
    out_nbrs = defaultdict(list)
    undp = set()
    for s, t in ed:
        out_nbrs[s].append(t)
        undp.add((s, t))
        undp.add((t, s))
    verts = {s for s, _ in ed} | {t for _, t in ed}

    state = {v: (None, v, 0, h(v) % _N2V_FP_MOD) for v in verts}
    biased_differs = False
    for i in range(1, _N2V_STEPS + 1):
        new = {}
        for start, (prev, cur, hops, fp) in state.items():
            cands = out_nbrs.get(cur, [])
            if not cands:
                new[start] = (prev, cur, hops, fp)
                continue

            def pick_with(kfun):
                best = None
                for nxt in cands:
                    k = kfun(nxt)
                    for r in range(k):
                        sc = h(f"n2v:{i}:{start}:{nxt}:{r}")
                        key = (sc, nxt)
                        if best is None or key < best[0]:
                            best = (key, nxt)
                return best[1]

            def kfun(nxt):
                if prev is not None and nxt == prev:
                    return _N2V_K_RETURN
                if prev is not None and (prev, nxt) in undp:
                    return _N2V_K_COMMON
                return _N2V_K_FORWARD

            picked = pick_with(kfun)
            if picked != pick_with(lambda _n: 1):
                biased_differs = True
            new[start] = (
                cur,
                picked,
                hops + 1,
                (fp + h(picked) % _N2V_FP_MOD) % _N2V_FP_MOD,
            )
        state = new

    got = {
        r["start_key"]: (r["end_key"], r["hops"], r["path_fp"])
        for r in q_node2vec_walks(spark, sf).collect()
    }
    exp = {v: (cur, hops, fp) for v, (_p, cur, hops, fp) in state.items()}
    assert got == exp
    assert biased_differs, "p/q bias never changed a pick — fixture too weak"


def test_neighbor_sample_matches_python(spark):
    """GraphSAGE fanout sample == a pure-Python replication of the salted
    md5 top-k pick over the distinct edge set: per-src caps, contiguous
    ranks, exact neighbor choice."""
    import hashlib

    from linkgraph.io import load_table
    from linkgraph.linkpred import _NS_FANOUT, q_neighbor_sample

    sf_dir = "/root/testdata/sf0.001"
    ev = load_table(spark, sf_dir, "events").collect()
    by_user = {}
    for r in ev:
        by_user.setdefault(r["user_id"], []).append(r)
    edges = set()
    for uid, rows in by_user.items():
        rows.sort(key=lambda r: (r["ts"], r["event_id"]))
        for a, b in zip(rows, rows[1:]):
            edges.add((a["event_type"], b["event_type"]))
        for r in rows:
            edges.add((f"user:{uid}", r["event_type"]))

    def h(s, t):
        return int(hashlib.md5(f"ns:{s}:{t}".encode()).hexdigest()[:15], 16)

    want = {}
    outs = {}
    for s, t in edges:
        outs.setdefault(s, []).append(t)
    for s, ts in outs.items():
        ranked = sorted(ts, key=lambda t: (h(s, t), t))[:_NS_FANOUT]
        for i, t in enumerate(ranked, 1):
            want[(s, t)] = i

    got = {
        (r["src_key"], r["dst_key"]): r["sample_rank"]
        for r in q_neighbor_sample(spark, sf_dir).collect()
    }
    assert got == want
    assert max(got.values()) <= _NS_FANOUT


def test_engine_msbfs_matches_networkx(spark):
    """Multi-source BFS == networkx multi_source_shortest_path_length on
    the same undirected events graph (seeds = 4 lowest vkeys), run to
    convergence depth."""
    import networkx as nx

    from linkgraph.engine_queries import _MSBFS_SEEDS, engine_msbfs
    from linkgraph.flagship import events_graph
    from linkgraph.io import load_table

    sf = "/root/testdata/sf0.001"
    g = events_graph(load_table(spark, sf, "events"))
    edges = g.edges.select("src", "dst").distinct().collect()
    verts = {r["vid"]: r["vkey"] for r in g.vertices.collect()}
    G = nx.Graph()
    G.add_nodes_from(verts)
    G.add_edges_from((r["src"], r["dst"]) for r in edges if r["src"] != r["dst"])
    seeds = sorted(verts, key=lambda v: verts[v])[:_MSBFS_SEEDS]
    dist = nx.multi_source_dijkstra_path_length(G, seeds, weight=None)
    want = {
        verts[v]: int(d) for v, d in dist.items() if d <= 6  # _BFS_STEPS
    }
    got = {r["vkey"]: r["dist"] for r in engine_msbfs(spark, sf).collect()}
    assert got == want


# -- linear-threshold cascade -------------------------------------------------

def _lt_ref(src, dst, n, seeds, theta, iters):
    """Pure-python synchronous LT cascade over the undirected simple view:
    rnd[v] = activation round (-1 inactive), infl[v] = cumulative count of
    activated neighbors (each neighbor counted once, at activation+1)."""
    adj = [set() for _ in range(n)]
    for s, d in zip(src, dst):
        if s != d:
            adj[s].add(d)
            adj[d].add(s)
    rnd = np.full(n, -1, dtype=np.int64)
    infl = np.zeros(n, dtype=np.int64)
    rnd[list(seeds)] = 0
    for t in range(1, iters + 1):
        fresh = np.flatnonzero(rnd == t - 1)
        gain = np.zeros(n, dtype=np.int64)
        for u in fresh:
            for v in adj[u]:
                gain[v] += 1
        infl = infl + gain
        newly = (rnd == -1) & (infl >= theta)
        rnd[newly] = t
    return rnd, infl


def _lt_thresholds(src, dst, n):
    """Deterministic test thresholds: 1 + (vid * 7) % deg — the full degree
    range, so high-draw vertices need ALL their neighbors active and some
    never fire; degree-0 vertices get a huge sentinel (can never
    activate)."""
    deg = np.zeros(n, dtype=np.int64)
    seen = set()
    for s, d in zip(src, dst):
        if s != d and (min(s, d), max(s, d)) not in seen:
            seen.add((min(s, d), max(s, d)))
            deg[s] += 1
            deg[d] += 1
    theta = 1 + (np.arange(n, dtype=np.int64) * 7) % np.maximum(1, deg)
    return np.where(deg > 0, theta, np.int64(1) << 61), deg


def test_ltcascade_matches_reference(spark, synth_ctx):
    from linkgraph.pregel import LTCascadeProgram

    g, ctx = synth_ctx
    src, dst, _w, n = edges_numpy(g)
    theta, _deg = _lt_thresholds(src, dst, n)
    seeds = [0, n // 3, 2 * n // 3]
    K = 5

    seeds_df = spark.createDataFrame([(int(s),) for s in seeds], "vid long")
    th_df = spark.createDataFrame(
        [(int(v), int(t)) for v, t in enumerate(theta)], "vid long, theta long"
    )
    res = run_program(
        ctx, LTCascadeProgram(seeds_df, th_df), fixed_iters=K
    )
    rnd = _col(res.state, "rnd", n, fill=int(BFS_INF))
    rnd = np.where(rnd == int(BFS_INF), -1, rnd)
    infl = _col(res.state, "infl", n)

    ref_rnd, ref_infl = _lt_ref(src, dst, n, seeds, theta, K)
    assert (rnd == ref_rnd).all()
    assert (infl == ref_infl).all()
    assert (rnd >= 0).any() and (rnd == -1).any()  # nontrivial fixture


def test_ltcascade_hub_split_equals_unsplit(spark):
    """Forced undirected hub split (star_hub fixture) changes the plan, not
    the cascade."""
    from linkgraph.pregel import LTCascadeProgram

    g = build_graph(micro_transcripts(spark, "star_hub"))
    src, dst, _w, n = edges_numpy(g)
    theta, _deg = _lt_thresholds(src, dst, n)
    seeds_df = spark.createDataFrame([(0,)], "vid long")
    th_df = spark.createDataFrame(
        [(int(v), int(t)) for v, t in enumerate(theta)], "vid long, theta long"
    )

    ctx_plain = GraphContext.build(g, 4)
    ctx_split = GraphContext.build(g, 4, hub_theta=2, hub_floor=0)
    try:
        assert ctx_split.nnz_uhub > 0
        r1 = run_program(ctx_plain, LTCascadeProgram(seeds_df, th_df), fixed_iters=4)
        r2 = run_program(ctx_split, LTCascadeProgram(seeds_df, th_df), fixed_iters=4)
        for col in ("rnd", "infl"):
            assert (_col(r1.state, col, n) == _col(r2.state, col, n)).all()
        ref_rnd, ref_infl = _lt_ref(src, dst, n, [0], theta, 4)
        rnd = _col(r1.state, "rnd", n, fill=int(BFS_INF))
        assert (np.where(rnd == int(BFS_INF), -1, rnd) == ref_rnd).all()
        assert (_col(r1.state, "infl", n) == ref_infl).all()
    finally:
        ctx_plain.unpersist()
        ctx_split.unpersist()
