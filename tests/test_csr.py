"""CSR block packing properties (op 46)."""

import warnings

import numpy as np

from linkgraph.csr import build_csr_blocks, n_local_of, symmetrize, unpack_blocks
from linkgraph.derive import build_graph
from linkgraph.synth import micro_transcripts, synth_transcripts


def _graph(spark, n_conversations=40):
    return build_graph(synth_transcripts(spark, n_conversations=n_conversations, seed=42))


def test_round_trip(spark):
    """unpack(pack(edges)) == groupBy-summed edges (op 46 property)."""
    g = _graph(spark)
    n = g.vertices.count()
    P = 8
    blocks = build_csr_blocks(g.edges, n, P)
    back = {
        (r["src"], r["dst"]): r["w"] for r in unpack_blocks(blocks, P).collect()
    }
    want = {
        (r["src"], r["dst"]): r["w"]
        for r in g.edges.groupBy("src", "dst").agg({"w": "sum"}).withColumnRenamed("sum(w)", "w").collect()
    }
    assert back == want


def test_block_invariants(spark):
    g = _graph(spark)
    n = g.vertices.count()
    P = 8
    rows = build_csr_blocks(g.edges, n, P).collect()
    assert len(rows) <= P
    for r in rows:
        p = r["part_id"]
        indptr = np.array(r["indptr"])
        indices = np.array(r["indices"])
        coeff = np.array(r["coeff"])
        udst = np.array(r["udst"])
        e2u = np.array(r["e2u"])
        assert r["n_local"] == n_local_of(p, n, P)
        assert len(indptr) == r["n_local"] + 1
        assert indptr[0] == 0 and indptr[-1] == r["nnz"] == len(indices)
        assert (np.diff(indptr) >= 0).all()
        # all srcs in residue class; dsts sorted within each row
        for i in range(r["n_local"]):
            row = indices[indptr[i]: indptr[i + 1]]
            assert (np.diff(row) > 0).all() or len(row) <= 1
        # coeff sums to 1 per non-empty src row
        for i in range(r["n_local"]):
            cs = coeff[indptr[i]: indptr[i + 1]]
            if len(cs):
                assert abs(cs.sum() - 1.0) < 1e-12
        # udst/e2u is a consistent factorization of indices
        assert (udst[e2u] == indices).all()
        assert (np.diff(udst) > 0).all() or len(udst) <= 1


def test_symmetrize_micro(spark):
    g = build_graph(micro_transcripts(spark, "dup_self"))
    sym = {(r["src"], r["dst"]) for r in symmetrize(g.edges).collect()}
    vk = {r["vkey"]: r["vid"] for r in g.vertices.collect()}
    a, b, t = vk["a"], vk["b"], vk["tool00"]
    # self-loop a->a dropped; all other links present in both directions
    assert sym == {(a, b), (b, a), (a, t), (t, a), (b, t), (t, b)}


def test_build_raises_no_warning(spark):
    """Packing the blocks raises no warning (a partial type hint on the
    pack function made applyInPandas warn on every build)."""
    g = _graph(spark, n_conversations=10)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        build_csr_blocks(g.edges, 50, 4)  # plans the pack; no job runs
