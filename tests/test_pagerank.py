"""PageRank correctness of the CSR engine (pregel.PageRankProgram): golden
micro-graphs + numpy reference + networkx."""

import numpy as np
import pytest

from linkgraph.derive import build_graph
from linkgraph.pregel import GraphContext, PageRankProgram, run_program
from linkgraph.ref_single_node import pagerank_ref
from linkgraph.synth import micro_transcripts, synth_transcripts

from .conftest import edges_numpy, ranks_numpy

P = 4


def _pagerank(g, tol, max_iter=100):
    ctx = GraphContext.build(g, P)
    try:
        return run_program(ctx, PageRankProgram(tol=tol), max_iter=max_iter)
    finally:
        ctx.unpersist()


def _nx_pagerank(src, dst, w, n, tol=1e-12):
    import networkx as nx
    from networkx.algorithms.link_analysis.pagerank_alg import _pagerank_python

    G = nx.DiGraph()
    G.add_nodes_from(range(n))
    for s, d, ww in zip(src.tolist(), dst.tolist(), w.tolist()):
        G.add_edge(s, d, weight=ww)
    r = _pagerank_python(G, alpha=0.85, tol=tol, max_iter=5000, weight="weight")
    return np.array([r[i] for i in range(n)])


@pytest.mark.parametrize("name,expect", [
    ("tri3", np.full(3, 1 / 3)),
    ("two2cycles", np.full(4, 1 / 4)),
])
def test_golden_exact(spark, name, expect):
    g = build_graph(micro_transcripts(spark, name))
    res = _pagerank(g, tol=1e-9)
    r = ranks_numpy(res.state, len(expect))
    assert res.converged
    assert np.allclose(r, expect, atol=1e-6)
    assert abs(r.sum() - 1.0) < 1e-9


@pytest.mark.parametrize("name", ["path4", "star_hub", "dup_self"])
def test_golden_vs_reference(spark, name):
    g = build_graph(micro_transcripts(spark, name))
    src, dst, w, n = edges_numpy(g)
    r_ref, _ = pagerank_ref(src, dst, w, n, tol=1e-12)
    res = _pagerank(g, tol=1e-9)
    r = ranks_numpy(res.state, n)
    assert np.allclose(r, r_ref, atol=1e-6)
    assert np.allclose(r, _nx_pagerank(src, dst, w, n), atol=1e-6)


def test_synth_vs_reference_and_nx(spark):
    g = build_graph(synth_transcripts(spark, n_conversations=50, seed=42))
    src, dst, w, n = edges_numpy(g)
    res = _pagerank(g, tol=1e-9, max_iter=200)
    assert res.converged
    r = ranks_numpy(res.state, n)
    r_ref, _ = pagerank_ref(src, dst, w, n, tol=1e-12)
    assert np.allclose(r, r_ref, atol=1e-6)
    assert np.allclose(r, _nx_pagerank(src, dst, w, n), atol=1e-6)
    assert abs(r.sum() - 1.0) < 1e-8
    # monotone-ish convergence: deltas end below tol
    assert res.stats_history[-1]["delta"] < 1e-9
