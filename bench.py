"""Driver bench: headline engine queries at $SPARK_GRAFT_SF_DIR.

Prints exactly ONE JSON line to stdout:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>,
   "pagerank_supersteps_per_sec": ..., "edges_scattered_per_sec": ...,
   "graph": {...}, "hub_tier": {...}, "noise": {...}}

Environment:
  SPARK_GRAFT_SF_DIR      input tier dir (default /root/testdata/sf0.1);
                          the transcript graph is synthesized
                          deterministically at the matching scale (seed 42,
                          FIXTURES.md) — the testdata tables feed the
                          relational queries.
  SPARK_GRAFT_CPUS        local[N] parallelism (default 32).
  SPARK_GRAFT_BENCH_REPS  repetitions per timed section (default 3; the
                          reported per-query number is the MEDIAN).
  SPARK_GRAFT_LOAD_GUARD  1-min loadavg above which the bench WAITS (up to
                          ~3 min) before starting (default 4.0).  The host
                          has external tenants: identical code measured 52 s
                          quiet vs 419 s under a loadavg-10 spike, so a
                          single-shot capture is meaningless (VERDICT r03).

Noise protocol (VERDICT r03 "Next round" #2): every timed section runs
``REPS`` times and reports the median; per-rep walls and the 1-min loadavg
sampled at each rep start are recorded under "noise" so a capture is
self-describing about the conditions it ran under.

The graph benchmark measures the production configuration: CSR blocks +
cogrouped gather-scatter, per-superstep durable checkpoints with lineage +
metrics (the north-rule execution mode), PageRank run to L-inf < 1e-6
convergence.  The skewed tier (VERDICT r03 #3) plants a >theta_eff star
hub so the hub-split broadcast-scatter path is part of the TIMED surface,
not just pytest-verified.  Scaling evidence (local[8] vs local[32]) lives
in bench/run_bench.py -> BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

# conversations per unit sf: ~21.4 turns/conv -> sf0.1 ~= 600k turns,
# matching the sf0.1 testdata tier (lineitem ~600k rows).
CONVS_PER_SF = 280_000
HUB_THETA = 256
P = 32

# Skewed tier: the hub split only pays (and only engages) above
# theta_eff = max(theta, nnz/2P, 65536), so the star source must exceed the
# 64k floor REGARDLESS of sf — hence the fixed 70k-out-edge star over an
# sf-scaled zipf background.
HUB_TIER_V = 80_000
HUB_TIER_STAR = 70_000
HUB_TIER_BG_EDGES_PER_SF = 1_500_000
HUB_TIER_STEPS = 5


def _loadavg1() -> float:
    try:
        return os.getloadavg()[0]
    except OSError:  # pragma: no cover
        return 0.0


def _wait_for_quiet(threshold: float, max_wait_s: float = 180.0) -> dict:
    """Block (bounded) until the 1-min loadavg drops under ``threshold``.

    Only meaningful BEFORE Spark starts — once local[32] is running, our
    own work dominates the loadavg and the medians are the noise defense.
    """
    t0 = time.monotonic()
    start = _loadavg1()
    waited = 0.0
    while _loadavg1() > threshold and (waited := time.monotonic() - t0) < max_wait_s:
        sys.stderr.write(
            f"[bench] loadavg {_loadavg1():.1f} > {threshold} — waiting for quiet host\n"
        )
        time.sleep(10)
    return {
        "loadavg_at_start": round(start, 2),
        "loadavg_after_wait": round(_loadavg1(), 2),
        "guard_threshold": threshold,
        "waited_s": round(waited, 1),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    guard = float(os.environ.get("SPARK_GRAFT_LOAD_GUARD", "4.0"))
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)

    noise: dict[str, object] = {"reps": reps, **_wait_for_quiet(guard)}

    from linkgraph.session import get_spark

    spark = get_spark(app_name="linkgraph-bench", master=f"local[{cpus}]", shuffle_partitions=P)
    spark.sparkContext.setLogLevel("ERROR")

    from pyspark.sql import functions as F

    from linkgraph.derive import build_graph
    from linkgraph.pregel import (
        ComponentsProgram,
        GraphContext,
        LabelPropProgram,
        PageRankProgram,
        run_program,
    )
    from linkgraph.relational import q_agg_pricing, q_join_region_revenue
    from linkgraph.synth import graph_from_edges, synth_power_edges, synth_transcripts
    from linkgraph.triangles import count_triangles

    timings: dict[str, float] = {}
    extra: dict[str, object] = {}
    rep_walls: dict[str, list[float]] = {}
    rep_loads: dict[str, list[float]] = {}

    def timed(name: str, fn, cleanup=None):
        """Run ``fn`` ``reps`` times; report the MEDIAN wall.  ``cleanup``
        releases a rep's result (cache unpersist) before the next; the last
        result is returned live."""
        out = None
        walls: list[float] = []
        loads: list[float] = []
        for r in range(reps):
            if out is not None and cleanup is not None:
                cleanup(out)
            loads.append(round(_loadavg1(), 2))
            t0 = time.monotonic()
            out = fn(r)
            walls.append(round(time.monotonic() - t0, 3))
        timings[name] = round(statistics.median(walls), 3)
        rep_walls[name] = walls
        rep_loads[name] = loads
        return out

    n_conv = max(50, int(CONVS_PER_SF * sf))
    ckpt_root = tempfile.mkdtemp(prefix="lg_bench_ck_")

    # Steady-state warm-up (NOT timed): one P-partition Arrow-UDF job +
    # shuffle pre-forks the Python worker pool, compiles the codegen paths,
    # and faults in the pre-touched heap.  A production cluster pays these
    # once per executor lifetime, not per query, so the timed numbers below
    # measure per-query cost; documented in BENCH/BASELINE.md.
    def _warm(key, tbl):
        return tbl

    (
        spark.range(0, cpus * 4, 1, cpus)
        .withColumn("g", F.col("id") % cpus)
        .groupBy("g")
        .applyInArrow(_warm, "id long, g long")
        .count()
    )

    try:
        # -- graph pipeline ------------------------------------------------
        # The synthesized transcripts are materialized to parquet ONCE
        # (untimed setup): the north-rule input is an Iceberg/parquet TABLE,
        # so derive_and_csr must measure the engine reading a columnar scan —
        # not the sandbox artifact of re-serializing a driver-side pandas
        # frame into every job that touches the input (synth.py caveat;
        # BASELINE.md "input materialization").
        tdir = ckpt_root + "/transcripts"
        synth_transcripts(
            spark, n_conversations=n_conv, seed=42, n_agents=200, unique_users=True
        ).write.mode("overwrite").parquet(tdir)
        transcripts = spark.read.parquet(tdir)

        def _derive(_r):
            g = build_graph(transcripts, cache=True)
            ctx = GraphContext.build(g, P, hub_theta=HUB_THETA)
            return g, ctx

        g, ctx = timed("derive_and_csr", _derive, cleanup=lambda gc: gc[1].unpersist())
        nnz = ctx.nnz_directed + ctx.nnz_hub
        extra["graph"] = {
            "n_conversations": n_conv,
            "vertices": ctx.n_vertices,
            "edges": nnz,
            "edges_undirected": ctx.nnz_undirected,
            "hub_edges": ctx.nnz_hub,
            "P": P,
        }

        # Fresh ckpt dir per rep + resume=False: otherwise rep 2 would
        # resume from rep 1's converged checkpoint and measure nothing.
        pr = timed(
            "pagerank",
            lambda r: run_program(
                ctx, PageRankProgram(tol=1e-6), max_iter=100,
                ckpt_root=f"{ckpt_root}/pr{r}", resume=False,
            ),
        )
        extra["pagerank_supersteps"] = pr.supersteps
        extra["pagerank_converged"] = pr.converged
        extra["pagerank_supersteps_per_sec"] = round(pr.supersteps / timings["pagerank"], 4)
        extra["edges_scattered_per_sec"] = round(nnz * pr.supersteps / timings["pagerank"], 1)

        cc = timed(
            "components",
            lambda r: run_program(
                ctx, ComponentsProgram(), max_iter=50,
                ckpt_root=f"{ckpt_root}/cc{r}", resume=False,
            ),
        )
        extra["components_supersteps"] = cc.supersteps

        # fixed 10 supersteps: sync-LPA tie trajectories depend on the vid
        # numbering, so convergence-step counts drift across id-assignment
        # schemes; pinning the iteration count keeps round-over-round walls
        # comparing identical work.
        lp = timed(
            "labelprop",
            lambda r: run_program(
                ctx, LabelPropProgram(), max_iter=10,
                ckpt_root=f"{ckpt_root}/lp{r}", resume=False, fixed_iters=10,
            ),
        )
        extra["labelprop_supersteps"] = lp.supersteps

        tri = timed("triangles", lambda r: count_triangles(g), cleanup=lambda t: t.unpersist())
        extra["triangles_total"] = tri.total
        tri.unpersist()
        ctx.unpersist()

        # -- skewed tier: hub-split path under time ------------------------
        # Star source (70k out-edges > 64k floor) + zipf background; the
        # split moves the star's adjacency out of its CSR block into
        # destination-keyed hub blocks scattered from mirrored hub state,
        # so this section times the hub path the flat tier never engages
        # (hub_edges=0 there by cost model).
        bg_edges = max(50_000, int(HUB_TIER_BG_EDGES_PER_SF * sf))
        star = spark.range(1, HUB_TIER_STAR + 1).select(
            F.lit(0).alias("src"), F.col("id").alias("dst"), F.lit(1.0).alias("w")
        )
        hub_edges_df = synth_power_edges(spark, HUB_TIER_V, bg_edges, seed=42).union(star)
        hub_g = graph_from_edges(hub_edges_df, HUB_TIER_V)

        def _hub_build(_r):
            return GraphContext.build(hub_g, P, hub_theta=4096)

        hub_ctx = timed("hub_tier_build", _hub_build, cleanup=lambda c: c.unpersist())
        hub_pr = timed(
            "hub_tier_pagerank",
            lambda r: run_program(
                hub_ctx, PageRankProgram(tol=0.0), max_iter=HUB_TIER_STEPS,
                ckpt_root=f"{ckpt_root}/hub{r}", resume=False,
            ),
        )
        hub_nnz = hub_ctx.nnz_directed + hub_ctx.nnz_hub
        flat_step_s = timings["pagerank"] / max(pr.supersteps, 1)
        hub_step_s = timings["hub_tier_pagerank"] / HUB_TIER_STEPS
        hub_ctx.unpersist()

        # Control: the SAME skewed graph with the split disabled (the star's
        # 70k-entry adjacency stays inside its CSR block).  The honest cost
        # metric for the salting machinery is split vs unsplit on identical
        # data — the flat-tier ratio also bakes in a 2.75x nnz difference.
        def _hub_build_unsplit(_r):
            return GraphContext.build(hub_g, P, hub_theta=None)

        hub_ctx_u = timed(
            "hub_tier_build_unsplit", _hub_build_unsplit,
            cleanup=lambda c: c.unpersist(),
        )
        timed(
            "hub_tier_pagerank_unsplit",
            lambda r: run_program(
                hub_ctx_u, PageRankProgram(tol=0.0), max_iter=HUB_TIER_STEPS,
                ckpt_root=f"{ckpt_root}/hubu{r}", resume=False,
            ),
        )
        hub_ctx_u.unpersist()
        unsplit_step_s = timings["hub_tier_pagerank_unsplit"] / HUB_TIER_STEPS
        extra["hub_tier"] = {
            "vertices": hub_ctx.n_vertices,
            "edges": hub_nnz,
            "hub_edges": hub_ctx.nnz_hub,
            "split_engaged": hub_ctx.nnz_hub > 0,
            "steps": HUB_TIER_STEPS,
            "per_step_s": round(hub_step_s, 3),
            "unsplit_per_step_s": round(unsplit_step_s, 3),
            "step_ratio_split_vs_unsplit": round(hub_step_s / unsplit_step_s, 2),
            "flat_tier_per_step_s": round(flat_step_s, 3),
            "step_ratio_vs_flat": round(hub_step_s / flat_step_s, 2),
            "edges_scattered_per_sec": round(
                hub_nnz * HUB_TIER_STEPS / timings["hub_tier_pagerank"], 1
            ),
        }

        # -- relational coverage on the driver tables ----------------------
        timed("rel_agg_pricing", lambda r: q_agg_pricing(spark, sf_dir).collect())
        timed("rel_join_region", lambda r: q_join_region_revenue(spark, sf_dir).collect())

        # -- LLM-datapipe coverage (reported separately, like the hub tier,
        #    so the headline total stays comparable across rounds) ---------
        from linkgraph.datapipe import doc_near_dups, doc_tfidf

        timed("pipe_near_dups", lambda r: doc_near_dups(spark, sf_dir).collect())
        timed("pipe_tfidf", lambda r: doc_tfidf(spark, sf_dir).collect())

        noise["rep_walls"] = rep_walls
        noise["rep_loadavg_1m"] = rep_loads
        # "value" stays comparable across rounds: the r1-r3 headline set
        # (derive+engine+relational).  The skewed hub tier is timed and
        # reported separately under "hub_tier" / "hub_tier_total_sec" so
        # adding it to the surface doesn't read as a total regression.
        hub_keys = {
            "hub_tier_build", "hub_tier_pagerank",
            "hub_tier_build_unsplit", "hub_tier_pagerank_unsplit",
        }
        pipe_keys = {"pipe_near_dups", "pipe_tfidf"}
        total = round(
            sum(v for k, v in timings.items() if k not in hub_keys | pipe_keys), 3
        )
        print(
            json.dumps(
                {
                    "metric": "linkgraph_bench_total",
                    "value": total,
                    "unit": "sec",
                    "hub_tier_total_sec": round(
                        sum(v for k, v in timings.items() if k in hub_keys), 3
                    ),
                    "datapipe_total_sec": round(
                        sum(v for k, v in timings.items() if k in pipe_keys), 3
                    ),
                    "queries": timings,
                    "sf": sf,
                    "cpus": cpus,
                    **extra,
                    "noise": noise,
                }
            )
        )
    finally:
        shutil.rmtree(ckpt_root, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
