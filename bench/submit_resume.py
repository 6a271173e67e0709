"""spark-submit kill/resume end-to-end probe (op 53 through the launch mode).

The pytest kill/resume property (tests/test_resume.py) simulates the kill by
abandoning the loop mid-iteration inside one process.  This probe closes the
loop through the PRODUCTION entrypoint instead (VERDICT r05 "Next round" #7):
a real `spark-submit --py-files` run is `kill -9`ed mid-iteration from
outside, re-invoked with the same checkpoint root, and must resume from the
latest complete superstep and land on the same fixed point as an
uninterrupted control run.

Usage:
  spark-submit --master local[N] --py-files build/linkgraph.zip \
      bench/submit_resume.py run     <workdir> <tag> [n_conv]
  spark-submit ... bench/submit_resume.py compare <workdir> <tag_a> <tag_b>

``run`` synthesizes the deterministic transcript graph (seed 42, same
generator as bench.py), builds the CSR context and runs PageRank to
L-inf < 1e-6 convergence with durable checkpoints under <workdir>/ck
(``resume=True`` — a prior incomplete run's checkpoints are picked up
automatically).  The converged state is written to <workdir>/out_<tag> and
one JSON line is printed:
  {"mode": "run", "tag": ..., "supersteps": N, "resumed_from": K,
   "converged": true, "wall_s": ...}
Progress is observable externally via <workdir>/ck/pagerank/metrics.jsonl
(one line per completed superstep) — that is what the killer watches.

``compare`` joins two outputs on vid and prints row counts plus the max
absolute rank difference (the resume property: identical fixed point; the
pytest tolerance is 1e-6 because parquet read-back re-orders float sums).
"""
import json
import os
import sys
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main() -> None:
    mode, workdir = sys.argv[1], sys.argv[2]
    spark = (
        SparkSession.builder.appName(f"linkgraph-submit-resume-{mode}")
        .config("spark.sql.shuffle.partitions", "32")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    if mode == "run":
        from linkgraph.derive import build_graph
        from linkgraph.pregel import GraphContext, PageRankProgram, run_program
        from linkgraph.synth import synth_transcripts

        tag = sys.argv[3]
        n_conv = int(sys.argv[4]) if len(sys.argv) > 4 else 28_000
        tdir = os.path.join(workdir, "transcripts")
        if not os.path.exists(tdir):  # shared across the killed + resumed runs
            synth_transcripts(
                spark, n_conversations=n_conv, seed=42, n_agents=200,
                unique_users=True,
            ).write.mode("overwrite").parquet(tdir)
        t0 = time.monotonic()
        g = build_graph(spark.read.parquet(tdir), cache=True)
        ctx = GraphContext.build(g, 32)
        res = run_program(
            ctx, PageRankProgram(tol=1e-6), max_iter=100,
            ckpt_root=os.path.join(workdir, "ck"), resume=True,
        )
        res.state.write.mode("overwrite").parquet(
            os.path.join(workdir, f"out_{tag}")
        )
        print(json.dumps({
            "mode": "run", "tag": tag, "supersteps": res.supersteps,
            "resumed_from": res.resumed_from, "converged": res.converged,
            "n_vertices": ctx.n_vertices,
            "wall_s": round(time.monotonic() - t0, 2),
        }))
    elif mode == "compare":
        tag_a, tag_b = sys.argv[3], sys.argv[4]
        a = spark.read.parquet(os.path.join(workdir, f"out_{tag_a}"))
        b = spark.read.parquet(os.path.join(workdir, f"out_{tag_b}"))
        joined = a.select("vid", F.col("rank").alias("ra")).join(
            b.select("vid", F.col("rank").alias("rb")), "vid", "full_outer"
        )
        row = joined.agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("ra").isNull() | F.col("rb").isNull(), 1)
                  .otherwise(0)).alias("unmatched"),
            F.max(F.abs(F.col("ra") - F.col("rb"))).alias("max_abs_diff"),
        ).collect()[0]
        print(json.dumps({
            "mode": "compare", "a": tag_a, "b": tag_b, "rows": row["n"],
            "unmatched": row["unmatched"],
            "max_abs_diff": row["max_abs_diff"],
            # no joined pair at all (max_abs_diff None) is not a match
            "fixed_point_match": bool(
                row["unmatched"] == 0
                and row["max_abs_diff"] is not None
                and row["max_abs_diff"] < 1e-6
            ),
        }))
    else:
        raise SystemExit(f"unknown mode {mode!r}")
    spark.stop()


if __name__ == "__main__":
    main()
