"""Skew handling (ops 22, 47): salted agg equality + hub-split PageRank,
plus the undirected hub split that keeps CC/LPA scatter flat."""

import numpy as np
from pyspark.sql import functions as F

from linkgraph.derive import build_graph
from linkgraph.pregel import (
    ComponentsProgram,
    GraphContext,
    LabelPropProgram,
    PageRankProgram,
    run_program,
)
from linkgraph.ref_single_node import components_ref, lpa_ref, pagerank_ref
from linkgraph.skew import salted_sum
from linkgraph.synth import micro_transcripts, synth_transcripts

from .conftest import edges_numpy, ranks_numpy


def test_salted_sum_equals_unsalted(spark):
    g = build_graph(synth_transcripts(spark, n_conversations=60, seed=42))
    msgs = g.edges.select(F.col("dst"), (F.col("w") * 0.5).alias("m"))
    plain = {r["dst"]: r["m"] for r in msgs.groupBy("dst").agg(F.sum("m").alias("m")).collect()}
    salted = {r["dst"]: r["m"] for r in salted_sum(msgs, "dst", "m", n_salts=8).collect()}
    assert plain.keys() == salted.keys()
    for k in plain:
        assert abs(plain[k] - salted[k]) < 1e-9


def test_salted_sum_star_hub(spark):
    """The skew fixture: 64 leaves all pointing at one hub (FIXTURES §3)."""
    g = build_graph(micro_transcripts(spark, "star_hub"))
    msgs = g.edges.select("dst", F.col("w").alias("m"))
    plain = {r["dst"]: r["m"] for r in msgs.groupBy("dst").agg(F.sum("m").alias("m")).collect()}
    salted = {r["dst"]: r["m"] for r in salted_sum(msgs, "dst", "m", n_salts=16).collect()}
    assert plain == salted


def test_hub_split_pagerank_matches_reference(spark):
    g = build_graph(synth_transcripts(spark, n_conversations=60, seed=42))
    src, dst, w, n = edges_numpy(g)
    ctx = GraphContext.build(g, 8, hub_theta=5, hub_floor=0)
    try:
        assert ctx.nnz_hub > 0  # split actually engaged
        res = run_program(ctx, PageRankProgram(tol=1e-8), max_iter=200)
        assert res.converged
        r = ranks_numpy(res.state.select("vid", "rank"), n)
        r_ref, _ = pagerank_ref(src, dst, w, n, tol=1e-12)
        assert np.allclose(r, r_ref, atol=1e-6)
    finally:
        ctx.unpersist()


def test_hub_split_pagerank_star_hub(spark):
    g = build_graph(micro_transcripts(spark, "star_hub"))
    src, dst, w, n = edges_numpy(g)
    ctx = GraphContext.build(g, 4, hub_theta=0, hub_floor=0)  # every src is a "hub"
    try:
        res = run_program(ctx, PageRankProgram(tol=1e-10), max_iter=200)
        r = ranks_numpy(res.state.select("vid", "rank"), n)
        assert np.allclose(r, pagerank_ref(src, dst, w, n, tol=1e-10)[0], atol=1e-6)
    finally:
        ctx.unpersist()


def _col(state, col, n):
    pdf = state.select("vid", col).toPandas()
    out = np.zeros(n, dtype=np.int64)
    out[pdf["vid"].to_numpy(np.int64)] = pdf[col].to_numpy(np.int64)
    return out


def test_undirected_hub_split_cc_lpa_exact_star_hub(spark):
    """VERDICT r01 item 4: the symmetrized blocks get their own hub split,
    so a hub's undirected adjacency no longer serializes one CC/LPA scatter
    partition — and the results stay exact vs the single-node references."""
    g = build_graph(micro_transcripts(spark, "star_hub"))
    src, dst, _w, n = edges_numpy(g)
    ctx = GraphContext.build(g, 4, hub_theta=2, hub_floor=0)
    try:
        assert ctx.nnz_uhub > 0, "undirected hub split must engage on the star"
        # total undirected nnz (blocks + hub) matches the no-split build
        ctx_ref = GraphContext.build(g, 4)
        assert ctx.nnz_undirected == ctx_ref.nnz_undirected
        ctx_ref.unpersist()
        cc = run_program(ctx, ComponentsProgram(), max_iter=50)
        assert (_col(cc.state, "comp", n) == components_ref(src, dst, n)).all()
        lp = run_program(ctx, LabelPropProgram(), max_iter=20)
        assert (_col(lp.state, "label", n) == lpa_ref(src, dst, n, max_iter=20)).all()
    finally:
        ctx.unpersist()


def test_undirected_hub_split_cc_lpa_exact_synth(spark):
    g = build_graph(synth_transcripts(spark, n_conversations=60, seed=42))
    src, dst, _w, n = edges_numpy(g)
    ctx = GraphContext.build(g, 8, hub_theta=5, hub_floor=0)
    try:
        assert ctx.nnz_uhub > 0
        cc = run_program(ctx, ComponentsProgram(), max_iter=100)
        assert cc.converged
        assert (_col(cc.state, "comp", n) == components_ref(src, dst, n)).all()
        lp = run_program(ctx, LabelPropProgram(), max_iter=30)
        assert (_col(lp.state, "label", n) == lpa_ref(src, dst, n, max_iter=30)).all()
    finally:
        ctx.unpersist()


def test_aqe_skew_join_splits_hot_partition(spark):
    """Runtime skew handling for the relational glue (§4): with AQE skew
    join enabled, a sort-merge join against a hot key is re-planned at
    runtime — the executed plan must carry SortMergeJoin(skew=true) with
    a skewed AQEShuffleRead — and the result must equal the plain join.
    (The superstep engine pins its own partitioning and handles hubs via
    the explicit split; AQE skew join is the complementary mechanism for
    the ad-hoc relational layer, where plans are not pinned.)"""
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "65536",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32768",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # hot key 0 holds 25% of the fact side
        big = spark.range(0, 400_000).select(
            F.when(F.col("id") % 4 == 0, F.lit(0))
            .otherwise(F.col("id"))
            .alias("k"),
            F.col("id").alias("payload"),
        )
        dim = spark.range(0, 50_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        j = big.join(dim, "k")
        # the plan assertion must read the SAME QueryExecution that ran,
        # so collect j itself (an aggregate would execute its own plan)
        rows = j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
        assert "AQEShuffleRead coalesced and skewed" in plan
        # correctness: equal to the arithmetic reference (k<50k survives:
        # multiples of 4 fold to key 0, everything else joins iff id<50k)
        ids = [i for i in range(400_000) if (0 if i % 4 == 0 else i) < 50_000]
        assert len(rows) == len(ids)
        assert sum(r["payload"] for r in rows) == sum(ids)
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
