"""The benchmark's workloads: seeded inputs, the timed engine chain, and the
correctness gate against ``linkgraph.ref_single_node``.

Each workload is a batch job run as a closed loop: one client, one engine
call at a time, from a single driver process.  The seed reaches only the
generators; the engine sees only the parquet tables that set-up writes.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from typing import Any

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from linkgraph.checkpoint import CheckpointManager
from linkgraph.derive import build_graph
from linkgraph.io import load_transcripts
from linkgraph.pregel import (
    ComponentsProgram,
    GraphContext,
    LabelPropProgram,
    PageRankProgram,
    run_program,
)
from linkgraph.ref_single_node import components_ref, lpa_ref, pagerank_ref, triangles_ref
from linkgraph.synth import graph_from_edges, synth_power_edges, synth_transcripts_pdf
from linkgraph.triangles import count_triangles

# Graph partition count.  Superstep cost follows the task count, not the edge
# count, so P sets the fixed cost of every superstep; P = 4 is one task wave
# on local[4] and keeps a run of either workload near a minute.
P = 4

_TRANSCRIPT_ARROW = pa.schema(
    [
        pa.field("conv_id", pa.string(), False),
        pa.field("turn_idx", pa.int32(), False),
        pa.field("role", pa.string(), False),
        pa.field("text", pa.string()),
        pa.field("tool", pa.string()),
        pa.field("ts", pa.timestamp("us", tz="UTC"), False),
    ]
)


@dataclass
class Rep:
    """One execution of a workload's timed chain."""

    e2e: dict[str, float]
    ctx: GraphContext
    graph: Any
    results: dict[str, Any] = field(default_factory=dict)  # program name -> RunResult
    triangles: Any = None
    edges_np: tuple | None = None  # (src, dst, w), collected for the gate

    def release(self) -> None:
        if self.triangles is not None:
            self.triangles.unpersist()
        self.ctx.unpersist()


def _pagerank_e2e(ctx: GraphContext, pr, pagerank_s: float) -> dict[str, float]:
    steps = pr.supersteps - pr.resumed_from
    return {
        "pagerank_s": pagerank_s,
        "pagerank_supersteps_per_s": steps / pagerank_s,
        "edges_scattered_per_s": (ctx.nnz_directed + ctx.nnz_hub) * steps / pagerank_s,
    }


def _dense(df, col: str, n: int) -> np.ndarray:
    pdf = df.select("vid", col).toPandas()
    out = np.zeros(n, dtype=pdf[col].dtype if len(pdf) else np.int64)
    out[pdf["vid"].to_numpy(np.int64)] = pdf[col].to_numpy()
    return out


def _edges_np(rep: Rep) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    if rep.edges_np is None:
        ep = rep.graph.edges.select("src", "dst", "w").toPandas()
        rep.edges_np = (
            ep["src"].to_numpy(np.int64),
            ep["dst"].to_numpy(np.int64),
            ep["w"].to_numpy(np.float64),
        )
    return rep.edges_np


def _check_pagerank(rep: Rep, tol: float, max_iter: int) -> list[tuple[str, bool]]:
    src, dst, w = _edges_np(rep)
    n = rep.ctx.n_vertices
    pr = rep.results["pagerank"]
    ranks, steps = pagerank_ref(src, dst, w, n, tol=tol, max_iter=max_iter)
    got = _dense(pr.state, "rank", n)
    return [
        ("pagerank.allclose_1e-6", bool(np.allclose(got, ranks, rtol=0.0, atol=1e-6))),
        ("pagerank.supersteps", pr.supersteps == steps),
    ]


def checkpoint_probe(spark, ckpt_root: str, ctx: GraphContext) -> tuple[float, int]:
    """Time the resume-side checkpoint path on the finished PageRank chain:
    ``latest_complete`` validation plus reading that step's state back."""
    mgr = CheckpointManager(
        spark, ckpt_root, PageRankProgram.name, ctx.fingerprint, ctx.P,
        ctx.n_vertices, list(PageRankProgram.state_cols),
    )
    t0 = time.perf_counter()
    latest = mgr.latest_complete()
    if latest is None:
        raise RuntimeError("no complete PageRank checkpoint to resume from")
    mgr.read_state(latest[0]).count()
    return time.perf_counter() - t0, latest[0]


class TranscriptsE2E:
    """The north-star pipeline on a transcript table: derive, CSR context,
    PageRank to 1e-6, label propagation, triangles.  Components run on
    ``hub_skew`` only, which keeps a run of this workload near a minute.

    About 220k turns and a 29k-edge graph: every superstep is dispatch-bound,
    and the hub split stays dormant (theta_eff >= 65,536 > max degree)."""

    name = "transcripts_e2e"
    n_ops = 5  # derive, context, pagerank, labelprop, triangles
    N_CONVERSATIONS = 10_000
    HUB_THETA = 256
    LPA_STEPS = 3

    def make_inputs(self, spark, seed: int, path: str) -> dict:
        pdf = synth_transcripts_pdf(
            n_conversations=self.N_CONVERSATIONS, seed=seed, n_agents=200, unique_users=True
        )
        table = pa.Table.from_pandas(pdf, schema=_TRANSCRIPT_ARROW, preserve_index=False)
        os.makedirs(path)
        step = -(-table.num_rows // P)
        for i in range(P):
            pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))
        return {"path": path, "turns": table.num_rows}

    def run(self, spark, tracer, inputs: dict, ckpt_root: str) -> Rep:
        with tracer.span("rep") as whole:
            with tracer.span("derive") as s_derive:
                g = build_graph(load_transcripts(spark, inputs["path"]), cache=True)
            with tracer.span("context") as s_ctx:
                ctx = GraphContext.build(g, P, hub_theta=self.HUB_THETA)
            rep = Rep({}, ctx, g)
            with tracer.span("pregel.pagerank") as s_pr:
                rep.results["pagerank"] = run_program(
                    ctx, PageRankProgram(tol=1e-6), max_iter=100,
                    ckpt_root=ckpt_root, resume=False,
                )
            with tracer.span("pregel.labelprop"):
                rep.results["labelprop"] = run_program(
                    ctx, LabelPropProgram(), max_iter=self.LPA_STEPS,
                    fixed_iters=self.LPA_STEPS, ckpt_root=ckpt_root, resume=False,
                )
            with tracer.span("triangles"):
                rep.triangles = count_triangles(g)
        rep.e2e = {
            "time_to_solution_s": whole.wall_s,
            "graph_build_s": s_derive.wall_s + s_ctx.wall_s,
            **_pagerank_e2e(ctx, rep.results["pagerank"], s_pr.wall_s),
        }
        return rep

    def check(self, rep: Rep) -> list[tuple[str, bool]]:
        src, dst, _ = _edges_np(rep)
        n = rep.ctx.n_vertices
        lp = _dense(rep.results["labelprop"].state, "label", n)
        per_vertex, total = triangles_ref(src, dst, n)
        return [
            *_check_pagerank(rep, tol=1e-6, max_iter=100),
            ("labelprop.exact", bool(np.array_equal(lp, lpa_ref(src, dst, n, max_iter=self.LPA_STEPS)))),
            (
                "triangles.exact",
                rep.triangles.total == total
                and bool(np.array_equal(_dense(rep.triangles.per_vertex, "n_tri", n), per_vertex)),
            ),
            ("context.hub_split_dormant", rep.ctx.nnz_hub == 0),
        ]


class HubSkew:
    """A power-law edge table plus one star far above the hub threshold, so
    both the directed and the undirected hub split engage.  Derive and
    triangles do not run: the edge table already has dense vids < V."""

    name = "hub_skew"
    n_ops = 4  # graph_from_edges, context, pagerank, components
    N_VERTICES = 80_000
    N_EDGES = 150_000
    STAR = 70_000  # out-edges of vertex 0; must exceed the 65,536 hub floor
    HUB_THETA = 4096
    PAGERANK_STEPS = 4

    def make_inputs(self, spark, seed: int, path: str) -> dict:
        star = spark.range(1, self.STAR + 1, numPartitions=1).select(
            F.lit(0).cast("long").alias("src"), F.col("id").alias("dst"), F.lit(1.0).alias("w")
        )
        synth_power_edges(spark, self.N_VERTICES, self.N_EDGES, seed=seed, parts=P).union(
            star
        ).write.parquet(path)
        return {"path": path, "turns": 0}

    def run(self, spark, tracer, inputs: dict, ckpt_root: str) -> Rep:
        with tracer.span("rep") as whole:
            with tracer.span("context") as s_ctx:
                g = graph_from_edges(spark.read.parquet(inputs["path"]), self.N_VERTICES)
                ctx = GraphContext.build(g, P, hub_theta=self.HUB_THETA)
            rep = Rep({}, ctx, g)
            with tracer.span("pregel.pagerank") as s_pr:
                rep.results["pagerank"] = run_program(
                    ctx, PageRankProgram(tol=0.0), max_iter=self.PAGERANK_STEPS,
                    ckpt_root=ckpt_root, resume=False,
                )
            with tracer.span("pregel.components"):
                rep.results["components"] = run_program(
                    ctx, ComponentsProgram(), max_iter=50, ckpt_root=ckpt_root, resume=False
                )
        rep.e2e = {
            "time_to_solution_s": whole.wall_s,
            "graph_build_s": s_ctx.wall_s,
            **_pagerank_e2e(ctx, rep.results["pagerank"], s_pr.wall_s),
        }
        return rep

    def check(self, rep: Rep) -> list[tuple[str, bool]]:
        src, dst, _ = _edges_np(rep)
        comp = _dense(rep.results["components"].state, "comp", rep.ctx.n_vertices)
        return [
            *_check_pagerank(rep, tol=0.0, max_iter=self.PAGERANK_STEPS),
            ("components.exact", bool(np.array_equal(comp, components_ref(src, dst, rep.ctx.n_vertices)))),
            ("context.directed_hub_split", rep.ctx.nnz_hub > 0),
            ("context.undirected_hub_split", rep.ctx.nnz_uhub > 0),
        ]


WORKLOADS = {w.name: w for w in (TranscriptsE2E(), HubSkew())}
