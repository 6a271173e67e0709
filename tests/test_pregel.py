"""CSR-backed Pregel programs vs single-node references (ops 48-50)."""

import re
from collections import Counter

import numpy as np
import pytest

from linkgraph.derive import build_graph
from pyspark.sql import functions as F

from linkgraph.pregel import (
    BFSProgram,
    ComponentsProgram,
    EigenvectorProgram,
    GraphContext,
    KatzProgram,
    LabelPropProgram,
    LTCascadeProgram,
    PageRankProgram,
    PersonalizedPageRankProgram,
    _materialize,
    aqe_off,
    run_program,
)
from linkgraph.ref_single_node import components_ref, lpa_ref, pagerank_ref
from linkgraph.synth import micro_transcripts, synth_transcripts

from .conftest import edges_numpy

P = 8


@pytest.fixture(scope="module")
def synth_ctx(spark):
    g = build_graph(synth_transcripts(spark, n_conversations=60, seed=42))
    ctx = GraphContext.build(g, P)
    yield g, ctx
    ctx.unpersist()


def _col(state, name, n):
    pdf = state.toPandas()
    out = np.zeros(n, dtype=np.asarray(pdf[name]).dtype)
    out[pdf["vid"].to_numpy(np.int64)] = pdf[name].to_numpy()
    return out


def test_pagerank_csr_matches_reference(synth_ctx):
    g, ctx = synth_ctx
    src, dst, w, n = edges_numpy(g)
    res = run_program(ctx, PageRankProgram(tol=1e-8), max_iter=200)
    assert res.converged
    r = _col(res.state, "rank", n)
    r_ref, it_ref = pagerank_ref(src, dst, w, n, tol=1e-8)
    assert res.supersteps == it_ref
    assert np.allclose(r, r_ref, atol=1e-6)
    assert abs(r.sum() - 1.0) < 1e-8


def test_components_exact(synth_ctx):
    g, ctx = synth_ctx
    src, dst, _w, n = edges_numpy(g)
    res = run_program(ctx, ComponentsProgram(), max_iter=100)
    assert res.converged
    comp = _col(res.state, "comp", n)
    assert (comp == components_ref(src, dst, n)).all()


def test_components_vs_networkx(synth_ctx):
    import networkx as nx

    g, ctx = synth_ctx
    src, dst, _w, n = edges_numpy(g)
    res = run_program(ctx, ComponentsProgram(), max_iter=100)
    comp = _col(res.state, "comp", n)
    G = nx.Graph()
    G.add_nodes_from(range(n))
    G.add_edges_from((s, d) for s, d in zip(src, dst) if s != d)
    for cset in nx.connected_components(G):
        labels = {comp[v] for v in cset}
        assert labels == {min(cset)}  # exact min-vid labeling per component


def test_labelprop_exact(synth_ctx):
    g, ctx = synth_ctx
    src, dst, _w, n = edges_numpy(g)
    res = run_program(ctx, LabelPropProgram(), max_iter=30)
    label = _col(res.state, "label", n)
    assert (label == lpa_ref(src, dst, n, max_iter=30)).all()


@pytest.mark.parametrize("name", ["tri3", "path4", "two2cycles", "star_hub", "dup_self"])
def test_golden_all_programs(spark, name):
    g = build_graph(micro_transcripts(spark, name))
    src, dst, w, n = edges_numpy(g)
    ctx = GraphContext.build(g, 4)
    try:
        pr = run_program(ctx, PageRankProgram(tol=1e-10), max_iter=300)
        assert np.allclose(
            _col(pr.state, "rank", n), pagerank_ref(src, dst, w, n, tol=1e-10)[0], atol=1e-6
        )
        cc = run_program(ctx, ComponentsProgram(), max_iter=50)
        assert (_col(cc.state, "comp", n) == components_ref(src, dst, n)).all()
        lp = run_program(ctx, LabelPropProgram(), max_iter=20)
        assert (_col(lp.state, "label", n) == lpa_ref(src, dst, n, max_iter=20)).all()
    finally:
        ctx.unpersist()


def test_golden_expectations(spark):
    """Hand-computed FIXTURES.md §3 expectations."""
    g = build_graph(micro_transcripts(spark, "two2cycles"))
    ctx = GraphContext.build(g, 4)
    try:
        pr = run_program(ctx, PageRankProgram(tol=1e-10), max_iter=100)
        assert np.allclose(_col(pr.state, "rank", 4), 0.25, atol=1e-9)
        cc = run_program(ctx, ComponentsProgram(), max_iter=50)
        comp = _col(cc.state, "comp", 4)
        assert len(set(comp)) == 2  # {a,b}, {c,d}
    finally:
        ctx.unpersist()


def test_katz_csr_matches_numpy_power_series(synth_ctx):
    """KatzProgram (raw-weight scatter, additive beta) vs a dense numpy
    power series x_{t+1} = beta + alpha * W^T x_t, fixed 5 iterations."""
    from linkgraph.pregel import KatzProgram

    g, ctx = synth_ctx
    src, dst, w, n = edges_numpy(g)
    alpha, beta, k = 0.01, 1.0, 5

    W = np.zeros((n, n))
    np.add.at(W, (src, dst), w)
    x = np.full(n, beta)
    for _ in range(k):
        x = beta + alpha * (W.T @ x)

    res = run_program(
        ctx, KatzProgram(alpha=alpha, beta=beta, tol=0.0), fixed_iters=k
    )
    got = _col(res.state, "rank", n)
    np.testing.assert_allclose(got, x, rtol=0, atol=1e-9)


def test_eigenvector_csr_matches_numpy_power_iteration(synth_ctx):
    """EigenvectorProgram (Katz with alpha=1/beta=0, x_0 = 1) vs a dense
    numpy truncated power iteration x_{t+1} = W^T x_t, fixed 4 steps —
    un-normalized, matching the engine's normalize-once-at-the-end shape."""
    from linkgraph.pregel import EigenvectorProgram

    g, ctx = synth_ctx
    src, dst, w, n = edges_numpy(g)
    k = 4

    W = np.zeros((n, n))
    np.add.at(W, (src, dst), w)
    x = np.ones(n)
    for _ in range(k):
        x = W.T @ x

    res = run_program(ctx, EigenvectorProgram(), fixed_iters=k)
    got = _col(res.state, "rank", n)
    np.testing.assert_allclose(got, x, rtol=1e-12, atol=1e-9)


@pytest.mark.parametrize(
    "make_prog",
    [
        lambda spark: KatzProgram(tol=0.0),
        lambda spark: PersonalizedPageRankProgram(
            spark.createDataFrame([(0,), (5,)], "vid long"), tol=0.0
        ),
        lambda spark: EigenvectorProgram(),
    ],
    ids=["katz", "ppr", "eigenvector"],
)
def test_katz_hub_split_equals_unsplit(spark, make_prog):
    """Forced hub split on the star_hub fixture: the hub pack path (raw
    weights for Katz/eigenvector, coeff + seed teleport for PPR's own apply
    kernel) must produce the same values as the unsplit plan."""
    g = build_graph(micro_transcripts(spark, "star_hub"))
    src, dst, w, n = edges_numpy(g)

    ctx_plain = GraphContext.build(g, 4)
    # star_hub's hub is on the IN side; the directed split keys on
    # out-degree, so theta=0 forces every src through the broadcast path
    ctx_split = GraphContext.build(g, 4, hub_theta=0, hub_floor=0)
    try:
        assert ctx_split.nnz_hub > 0  # split actually engaged
        k1 = _col(
            run_program(ctx_plain, make_prog(spark), fixed_iters=4).state,
            "rank", n,
        )
        k2 = _col(
            run_program(ctx_split, make_prog(spark), fixed_iters=4).state,
            "rank", n,
        )
        np.testing.assert_allclose(k1, k2, rtol=0, atol=1e-12)
    finally:
        ctx_plain.unpersist()
        ctx_split.unpersist()


def _plan_tree(df) -> list[tuple[int, str]]:
    """(depth, operator name) of each node in the executed physical plan of
    ``df``, in tree-string order."""
    tree = df._jdf.queryExecution().executedPlan().treeString()  # noqa: SLF001
    node = re.compile(r"^([\s:+\-|]*)(?:\*\(\d+\) )?(\w+)")
    return [
        (len(m.group(1)) // 3, m.group(2))
        for m in map(node.match, tree.splitlines())
        if m is not None
    ]


def _plan_nodes(df) -> Counter:
    """Operator names in the executed physical plan of ``df``, one per node."""
    return Counter(name for _depth, name in _plan_tree(df))


def _star_hub_ctx(spark, split: bool):
    g = build_graph(micro_transcripts(spark, "star_hub"))
    kw = {"hub_theta": 0, "hub_floor": 0} if split else {}
    ctx = GraphContext.build(g, 4, **kw)
    assert (ctx.nnz_hub > 0) == split
    return ctx


@pytest.mark.parametrize("split", [False, True], ids=["unsplit", "split"])
def test_pagerank_superstep_plan_shape(spark, split):
    """One PageRank superstep through the composite ``superstep()`` with
    AQE off, as a caller re-pins it: the caller's repartition is the only
    full exchange (the prologue is materialized inside superstep()), and
    the fused apply+scatter cogroup the only Python stage.  Split, the hub
    block rows share the block table and the hub mirrors the carried
    table, so the plan has the unsplit shape."""
    ctx = _star_hub_ctx(spark, split)
    try:
        prog = PageRankProgram()
        with aqe_off(spark):
            state = prog.init_state(ctx).repartition(ctx.P, "part_id").localCheckpoint()
            step = prog.superstep(ctx, state).select(*prog.state_cols)
            nodes = _plan_nodes(step.repartition(ctx.P, "part_id"))
        expected = {"Exchange": 1, "BroadcastExchange": 0, "FlatMapCoGroupsInArrow": 1, "Union": 0}
        assert {k: nodes[k] for k in expected} == expected
    finally:
        ctx.unpersist()


@pytest.mark.parametrize("split", [False, True], ids=["unsplit", "split"])
def test_pagerank_fused_step_plan_shape(spark, split):
    """The in-loop superstep: one cogroup of the static blocks with the
    materialized carried table, then the one message Exchange — with or
    without the hub split."""
    ctx = _star_hub_ctx(spark, split)
    try:
        prog = PageRankProgram()
        with aqe_off(spark):
            carried, carry = _materialize(prog, ctx, prog._prologue(ctx, prog.init_state(ctx)), 0)
            step = prog._step(ctx, carried, carry).repartition(ctx.P, "part_id")
            nodes = _plan_nodes(step)
        expected = {"Exchange": 1, "BroadcastExchange": 0, "FlatMapCoGroupsInArrow": 1, "Union": 0}
        assert {k: nodes[k] for k in expected} == expected
    finally:
        ctx.unpersist()


@pytest.fixture(scope="module")
def star_hub_pair(spark):
    """star_hub contexts unsplit and with every row forced into the hub
    blocks, so every partition owns hubs and receives mirrors."""
    g = build_graph(micro_transcripts(spark, "star_hub"))
    plain = GraphContext.build(g, 4)
    split = GraphContext.build(g, 4, hub_theta=0, hub_floor=0)
    assert plain.nnz_hub == plain.nnz_uhub == 0
    assert split.nnz_hub > 0 and split.nnz_uhub > 0
    yield plain, split
    plain.unpersist()
    split.unpersist()


def _one_vid(spark):
    return spark.createDataFrame([(0,)], "vid long")


@pytest.mark.parametrize(
    "make_prog, keys, atol",
    [
        (lambda spark: ComponentsProgram(), ("changes",), 0),
        (lambda spark: BFSProgram(_one_vid(spark)), ("changes", "reached"), 0),
        (
            lambda spark: LTCascadeProgram(
                _one_vid(spark), spark.range(1000).select("id", F.lit(1)).toDF("vid", "theta")
            ),
            ("changes", "active"),
            0,
        ),
        (lambda spark: PageRankProgram(), ("rank_sum", "dangling_mass"), 1e-12),
    ],
    ids=["components", "bfs", "ltcascade", "pagerank"],
)
def test_hub_mirrors_never_reach_results(spark, star_hub_pair, make_prog, keys, atol):
    """Mirror rows travel in the carried table but carry no vid and no
    state, so the stats observed on it and the returned state are those of
    the unsplit run: the same per-superstep stats, one row per vertex."""
    plain, split = star_hub_pair
    r1 = run_program(plain, make_prog(spark), fixed_iters=4)
    r2 = run_program(split, make_prog(spark), fixed_iters=4)
    assert len(r1.stats_history) == len(r2.stats_history) == 4
    for h1, h2 in zip(r1.stats_history, r2.stats_history):
        for k in keys:
            np.testing.assert_allclose(h2[k], h1[k], rtol=0, atol=atol, err_msg=k)
    assert r2.state.count() == split.n_vertices
    assert r2.state.select("vid").distinct().count() == split.n_vertices


@pytest.mark.parametrize("prior", ["true", "false"])
def test_run_program_restores_aqe(spark, synth_ctx, prior):
    """run_program turns AQE off for its loop and hands back the caller's
    value, both when it returns and when the program raises."""

    class FailingInit(ComponentsProgram):
        def init_state(self, ctx):
            raise RuntimeError("init failed")

    _g, ctx = synth_ctx
    key = "spark.sql.adaptive.enabled"
    saved = spark.conf.get(key)
    try:
        spark.conf.set(key, prior)
        run_program(ctx, ComponentsProgram(), fixed_iters=1)
        assert spark.conf.get(key) == prior
        with pytest.raises(RuntimeError, match="init failed"):
            run_program(ctx, FailingInit(), fixed_iters=1)
        assert spark.conf.get(key) == prior
    finally:
        spark.conf.set(key, saved)


def _job_descriptions(sc) -> dict[int, str]:
    """jobId -> description of every job in the status store, after the
    listener bus has caught up."""
    import json

    sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    jvm = sc._jvm  # noqa: SLF001
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(getattr(scala_mod, "MODULE$"))
    jobs = sc._jsc.sc().statusStore().jobsList(jvm.java.util.ArrayList())  # noqa: SLF001
    return {j["jobId"]: j.get("description") for j in json.loads(mapper.writeValueAsString(jobs))}


def test_run_program_job_descriptions(spark, synth_ctx, tmp_path):
    """A checkpointed run is one job per superstep (the prologue's under the
    starting step; the durable writes run inside them, not as jobs of their
    own), each naming its layer and superstep, and the caller's job
    description is restored afterwards."""
    _g, ctx = synth_ctx
    sc = spark.sparkContext
    before = set(_job_descriptions(sc))
    sc.setJobDescription("caller")
    try:
        run_program(
            ctx, ComponentsProgram(), fixed_iters=2, ckpt_root=str(tmp_path), resume=False
        )
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setLocalProperty("spark.job.description", None)
    new = sorted(d for j, d in _job_descriptions(sc).items() if j not in before)
    assert new == ["pregel.components:t=0", "pregel.components:t=1", "pregel.components:t=2"]


def test_context_build_job_descriptions(spark):
    """Every job of GraphContext.build (hub split forced, so every build
    thread runs jobs) names its build phase, and the caller's job
    description is restored afterwards."""
    g = build_graph(synth_transcripts(spark, n_conversations=30, seed=7))
    sc = spark.sparkContext
    before = set(_job_descriptions(sc))
    sc.setJobDescription("caller")
    try:
        ctx = GraphContext.build(g, P, hub_theta=2, hub_floor=0)
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setLocalProperty("spark.job.description", None)
    ctx.unpersist()
    assert ctx.nnz_hub > 0 and ctx.nnz_uhub > 0
    new = {d for j, d in _job_descriptions(sc).items() if j not in before}
    assert new == {
        f"context.build:{phase}"
        for phase in (
            "count_vertices", "esum", "dirdeg", "sym", "directed", "undirected", "base",
        )
    }


def _expected_contract(spark, edges):
    """Fingerprint and nnz figures of an edge table, computed in SQL
    independently of the build: the fingerprint is over the pre-summed
    (src, dst) table, which keeps old checkpoint chains resumable."""
    edges.createOrReplaceTempView("contract_edges")
    return spark.sql(
        """
        WITH es AS (SELECT src, dst, sum(w) AS w FROM contract_edges GROUP BY src, dst),
             und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
                     FROM contract_edges WHERE src != dst)
        SELECT (SELECT count(*) FROM es) AS n,
               (SELECT sum(crc32(concat_ws(',', src, dst, w))) FROM es) AS h,
               (SELECT 2 * count(*) FROM und) AS und_nnz
        """
    ).collect()[0]


@pytest.fixture(scope="module")
def contract_graph(spark):
    """A star (hub 0), a ring, parallel edges, self-loops and reciprocal
    pairs: a fingerprint of the raw table would differ from the pre-summed
    one, and the undirected count must dedupe and drop loops."""
    n = 40
    pairs = [(0, d) for d in range(1, 21)] + [(i, (i + 1) % n) for i in range(n)]
    pairs += [(5, 6), (5, 6), (7, 8), (3, 3), (9, 9), (6, 5), (2, 1)]
    return _graph_from_pairs(spark, pairs, n)


@pytest.mark.parametrize("kw", [
    pytest.param(dict(hub_theta=256), id="unsplit"),
    pytest.param(dict(hub_theta=2, hub_floor=0), id="split"),
    pytest.param(dict(hub_theta=None), id="no_theta"),
])
def test_context_contract(spark, contract_graph, kw):
    """The statistics the build observes equal the same figures computed
    in SQL on the input edges: fingerprint, directed nnz (blocks + hub) and
    undirected nnz (blocks + hub)."""
    want = _expected_contract(spark, contract_graph.edges)
    ctx = GraphContext.build(contract_graph, P, **kw)
    ctx.unpersist()
    assert ctx.fingerprint == f"e{want['n']}-{want['h']}"
    assert ctx.nnz_directed + ctx.nnz_hub == want["n"]
    assert ctx.nnz_undirected == want["und_nnz"]
    split = kw.get("hub_floor") == 0
    assert (ctx.nnz_hub > 0 and ctx.nnz_uhub > 0) == split
    assert (len(ctx.hubs) > 0 and len(ctx.uhubs) > 0) == split


@pytest.mark.parametrize("kw", [
    pytest.param(dict(hub_theta=2, hub_floor=0), id="split"),
    pytest.param(dict(hub_theta=None), id="no_theta"),
])
def test_context_contract_empty_edges(spark, kw):
    from linkgraph.derive import GraphTables

    vertices = spark.createDataFrame(
        [(f"v{i}", i, "actor") for i in range(5)], "vkey string, vid long, vtype string"
    )
    edges = spark.createDataFrame([], "src long, dst long, etype string, w double")
    ctx = GraphContext.build(GraphTables(vertices, edges, None), P, **kw)
    ctx.unpersist()
    assert ctx.fingerprint == "e0-None"
    assert ctx.n_vertices == 5
    assert (ctx.nnz_directed, ctx.nnz_undirected, ctx.nnz_hub, ctx.nnz_uhub) == (0, 0, 0, 0)


def _graph_from_pairs(spark, pairs, n):
    from linkgraph.derive import GraphTables, build_degrees

    vertices = spark.createDataFrame(
        [(f"v{i:03d}", i, "actor") for i in range(n)],
        "vkey string, vid long, vtype string",
    )
    edges = spark.createDataFrame(
        [(int(s), int(d), "turn", 1.0) for s, d in pairs],
        "src long, dst long, etype string, w double",
    )
    return GraphTables(vertices, edges, build_degrees(edges, vertices))


def _bipartite_masks(ctx, n):
    from linkgraph.pregel import BipartiteProgram

    cc = run_program(ctx, ComponentsProgram(), max_iter=100)
    assert cc.converged
    roots = cc.state.where("vid = comp").select("vid")
    bp = run_program(ctx, BipartiteProgram(roots), max_iter=400)
    assert bp.converged
    return _col(cc.state, "comp", n), _col(bp.state, "mask", n)


def test_bipartite_planted_cycles(spark):
    """Even 6-cycle (bipartite), odd 5-cycle (odd cycle), and a pendant
    path: per-component verdicts and per-vertex parity masks are exact."""
    even = [(i, (i + 1) % 6) for i in range(6)]            # vids 0..5
    odd = [(6 + i, 6 + (i + 1) % 5) for i in range(5)]      # vids 6..10
    path = [(11, 12), (12, 13)]                              # vids 11..13
    n = 14
    g = _graph_from_pairs(spark, even + odd + path, n)
    ctx = GraphContext.build(g, 4)
    try:
        comp, mask = _bipartite_masks(ctx, n)
    finally:
        ctx.unpersist()
    assert (mask > 0).all()  # every vertex reached from its root
    # even cycle: each vertex reachable at exactly one parity
    assert (mask[:6] != 3).all()
    # odd cycle: every vertex eventually sees both parities
    assert (mask[6:11] == 3).all()
    assert (mask[11:] != 3).all()
    # parity of the unique color on the bipartite components matches BFS
    # depth parity from the min-vid root
    assert mask[0] == 1 and mask[1] == 2 and mask[2] == 1
    assert list(mask[11:]) == [1, 2, 1]


def test_bipartite_vs_networkx(synth_ctx):
    import networkx as nx

    g, ctx = synth_ctx
    src, dst, _w, n = edges_numpy(g)
    comp, mask = _bipartite_masks(ctx, n)
    G = nx.Graph()
    G.add_nodes_from(range(n))
    G.add_edges_from((s, d) for s, d in zip(src, dst) if s != d)
    for cset in nx.connected_components(G):
        engine_bip = not any(mask[v] == 3 for v in cset)
        assert engine_bip == nx.is_bipartite(G.subgraph(cset))
        assert all(mask[v] > 0 for v in cset)


def test_bipartite_hub_split_equals_unsplit(spark):
    """Forced undirected hub split on star_hub: identical parity masks."""
    from linkgraph.pregel import BipartiteProgram

    g = build_graph(micro_transcripts(spark, "star_hub"))
    _src, _dst, _w, n = edges_numpy(g)
    ctx_plain = GraphContext.build(g, 4)
    ctx_split = GraphContext.build(g, 4, hub_theta=0, hub_floor=0)
    try:
        assert ctx_split.nnz_uhub > 0
        _, m1 = _bipartite_masks(ctx_plain, n)
        _, m2 = _bipartite_masks(ctx_split, n)
        assert (m1 == m2).all()
    finally:
        ctx_plain.unpersist()
        ctx_split.unpersist()


def test_bowtie_planted_regions(spark):
    """All five bowtie regions on a planted directed graph: core 2-cycle
    {0,1}, IN {2->0}, OUT chain {1->3->4}, tendril {2->6: in the weak
    component, neither direction reaches the pivot}, disconnected {5, 7<->8}."""
    from linkgraph.pregel import SSSPProgram

    pairs = [(0, 1), (1, 0), (2, 0), (1, 3), (3, 4), (2, 6), (7, 8), (8, 7)]
    n = 9
    g = _graph_from_pairs(spark, pairs, n)
    uniq = g.edges.select("src", "dst").distinct()
    src = spark.createDataFrame([(0,)], "vid long")
    reach = {}
    from linkgraph.derive import GraphTables, build_degrees
    from pyspark.sql import functions as F

    for tag, e in (
        ("f", uniq),
        ("b", uniq.select(F.col("dst").alias("src"), F.col("src").alias("dst"))),
    ):
        ee = e.select("src", "dst", F.lit("x").alias("etype"), F.lit(1.0).alias("w"))
        gg = GraphTables(g.vertices, ee, build_degrees(ee, g.vertices))
        ctx = GraphContext.build(gg, 4)
        try:
            res = run_program(ctx, SSSPProgram(src), fixed_iters=6)
            dist = _col(res.state, "dist", n)
            reach[tag] = set(np.where(np.isfinite(dist))[0])
        finally:
            ctx.unpersist()
    ctx = GraphContext.build(g, 4)
    try:
        cc = run_program(ctx, ComponentsProgram(), max_iter=50)
        comp = _col(cc.state, "comp", n)
    finally:
        ctx.unpersist()
    wcc = set(np.where(comp == comp[0])[0])
    regions = {"core": set(), "in": set(), "out": set(),
               "tendril": set(), "disconnected": set()}
    for v in range(n):
        if v in reach["f"] and v in reach["b"]:
            regions["core"].add(v)
        elif v in reach["b"]:
            regions["in"].add(v)
        elif v in reach["f"]:
            regions["out"].add(v)
        elif v in wcc:
            regions["tendril"].add(v)
        else:
            regions["disconnected"].add(v)
    assert regions == {
        "core": {0, 1}, "in": {2}, "out": {3, 4},
        "tendril": {6}, "disconnected": {5, 7, 8},
    }
