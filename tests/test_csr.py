"""CSR block packing properties (op 46)."""

import warnings

import numpy as np
from pyspark.sql import functions as F

from linkgraph.csr import build_csr_blocks, n_local_of, symmetrize, unpack_blocks
from linkgraph.derive import build_graph
from linkgraph.synth import micro_transcripts, synth_transcripts


def _graph(spark, n_conversations=40):
    return build_graph(synth_transcripts(spark, n_conversations=n_conversations, seed=42))


def _splits(g, theta=5):
    """Pack arguments without and with a hub split: ``(hubs, hub_out_w)``,
    the sorted vids whose row has more than theta distinct dsts and their
    whole-row weight sums."""
    rows = (
        g.edges.groupBy("src", "dst").agg(F.sum("w").alias("w"))
        .groupBy("src").agg(F.count(F.lit(1)).alias("deg"), F.sum("w").alias("out_w"))
        .where(F.col("deg") > theta).orderBy("src").collect()
    )
    hubs = tuple(r["src"] for r in rows)
    assert hubs  # synthetic zipf cast guarantees hub actors
    return [((), ()), (hubs, tuple(r["out_w"] for r in rows))]


def test_round_trip(spark):
    """unpack(pack(edges)) == groupBy-summed edges (op 46 property), with
    and without hub rows."""
    g = _graph(spark)
    n = g.vertices.count()
    P = 8
    want = {
        (r["src"], r["dst"]): r["w"]
        for r in g.edges.groupBy("src", "dst").agg({"w": "sum"}).withColumnRenamed("sum(w)", "w").collect()
    }
    for hubs, hub_out_w in _splits(g):
        blocks = build_csr_blocks(g.edges, n, P, hubs=hubs, hub_out_w=hub_out_w)
        back = unpack_blocks(blocks, P, hubs).collect()
        assert len(back) == len(want)
        assert {(r["src"], r["dst"]): r["w"] for r in back} == want


def test_block_invariants(spark):
    """Residue-class rows and, in a split pack, hub rows: the CSR shape,
    coeff summing to 1 over each whole adjacency row, and every distinct
    (src, dst) edge packed exactly once."""
    g = _graph(spark)
    n = g.vertices.count()
    P = 8
    distinct = g.edges.select("src", "dst").distinct().count()
    for hubs, hub_out_w in _splits(g):
        rows = build_csr_blocks(g.edges, n, P, hubs=hubs, hub_out_w=hub_out_w).collect()
        assert sum(r["nnz"] for r in rows) == distinct
        assert len([r for r in rows if r["hub"]]) <= (P if hubs else 0)
        assert len([r for r in rows if not r["hub"]]) <= P
        hub_coeff = dict.fromkeys(hubs, 0.0)
        for r in rows:
            p = r["part_id"]
            indptr = np.array(r["indptr"])
            indices = np.array(r["indices"])
            coeff = np.array(r["coeff"])
            udst = np.array(r["udst"])
            e2u = np.array(r["e2u"])
            assert len(indptr) == r["n_local"] + 1
            assert indptr[0] == 0 and indptr[-1] == r["nnz"] == len(indices)
            assert (np.diff(indptr) >= 0).all()
            # dsts sorted within each row
            for i in range(r["n_local"]):
                row = indices[indptr[i]: indptr[i + 1]]
                assert (np.diff(row) > 0).all() or len(row) <= 1
            # udst/e2u is a consistent factorization of indices
            assert (udst[e2u] == indices).all()
            assert (np.diff(udst) > 0).all() or len(udst) <= 1
            if r["hub"]:
                # indexed by hub position; holds only dsts of partition p
                assert r["n_local"] == len(hubs)
                assert (r["vmin"], r["vmax"]) == (hubs[0], hubs[-1])
                assert (indices % P == p).all()
                for i, h in enumerate(hubs):
                    hub_coeff[h] += coeff[indptr[i]: indptr[i + 1]].sum()
                continue
            assert r["n_local"] == n_local_of(p, n, P)
            # coeff sums to 1 per non-empty src row
            for i in range(r["n_local"]):
                cs = coeff[indptr[i]: indptr[i + 1]]
                if len(cs):
                    assert abs(cs.sum() - 1.0) < 1e-12
            # a hub's residue-class row is empty
            for h in hubs:
                if h % P == p:
                    i = (h - p) // P
                    assert indptr[i] == indptr[i + 1]
        # a hub's coeff sums to 1 across all its hub rows
        for h, s in hub_coeff.items():
            assert abs(s - 1.0) < 1e-12, h


def test_symmetrize_micro(spark):
    g = build_graph(micro_transcripts(spark, "dup_self"))
    sym = {(r["src"], r["dst"]) for r in symmetrize(g.edges).collect()}
    vk = {r["vkey"]: r["vid"] for r in g.vertices.collect()}
    a, b, t = vk["a"], vk["b"], vk["tool00"]
    # self-loop a->a dropped; all other links present in both directions
    assert sym == {(a, b), (b, a), (a, t), (t, a), (b, t), (t, b)}


def test_build_raises_no_warning(spark):
    """Planning the pack raises no warning (grouped applyInArrow infers
    the eval type from the pack function's type hints if it has any: a
    partial hint warns and then raises)."""
    g = _graph(spark, n_conversations=10)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        build_csr_blocks(g.edges, 50, 4)  # plans the pack; no job runs
