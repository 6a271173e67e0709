"""Diagnostic probe: per-job timeline of one fresh-JVM graph build.

    python3 bench/probe_build.py [--workload transcripts_e2e] [--seed 1]

Run from the root of a linkgraph checkout.  Starts a ``local[4]`` session
as ``perfbench/run.py`` does, warms the Python workers, writes the
workload's seeded inputs, then runs the workload's build once:
``build_graph(cache=True)`` + ``GraphContext.build`` for
``transcripts_e2e``, ``graph_from_edges`` + ``GraphContext.build`` for
``hub_skew``.  Afterwards it reads Spark's status store and prints one line
per job of the build (id, description, start offset from the build's
start, wall, task seconds, executor CPU seconds, task count), then the
totals per job description.  NOT part of the benchmark surface.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path[:0] = [str(ROOT), str(ROOT / "perfbench")]
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
)


def _status_store(sc) -> tuple[list[dict], dict[int, dict]]:
    """(jobs, stageId -> stage) from the status store, one JVM-side JSON
    serialization per list."""
    jvm = sc._jvm
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(getattr(scala_mod, "MODULE$"))
    store = sc._jsc.sc().statusStore()
    every = jvm.java.util.ArrayList()
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(every)))
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    stages = json.loads(
        mapper.writeValueAsString(store.stageList(every, False, False, no_quantiles, every))
    )
    ran = {st["stageId"]: st for st in stages if st.get("completionTime") is not None}
    return jobs, ran


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", default="transcripts_e2e", choices=("transcripts_e2e", "hub_skew"))
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)

    import run as perfbench_run
    import workloads
    from linkgraph.derive import build_graph
    from linkgraph.io import load_transcripts
    from linkgraph.pregel import GraphContext
    from linkgraph.session import get_spark
    from linkgraph.synth import graph_from_edges

    work = Path(tempfile.mkdtemp(prefix="probe_build_"))
    spark = get_spark(
        app_name="probe-build",
        master=f"local[{perfbench_run.CORES}]",
        shuffle_partitions=workloads.P,
        extra_conf={"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"},
    )
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    try:
        perfbench_run._warm_up(spark)
        wl = workloads.WORKLOADS[args.workload]
        inputs = wl.make_inputs(spark, args.seed, str(work / "input"))
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        before = {j["jobId"] for j in _status_store(sc)[0]}

        t0_ms = time.time() * 1000.0
        if args.workload == "transcripts_e2e":
            g = build_graph(load_transcripts(spark, inputs["path"]), cache=True)
            t_derive = time.time() * 1000.0 - t0_ms
            ctx = GraphContext.build(g, workloads.P, hub_theta=wl.HUB_THETA)
        else:
            g = graph_from_edges(spark.read.parquet(inputs["path"]), wl.N_VERTICES)
            t_derive = 0.0
            ctx = GraphContext.build(g, workloads.P, hub_theta=wl.HUB_THETA)
        wall_s = time.time() - t0_ms / 1000.0
        ctx.unpersist()

        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs, stages = _status_store(sc)
        rows = []
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            if j["jobId"] in before or j.get("submissionTime") is None:
                continue
            ran = [stages[s] for s in j.get("stageIds", ()) if s in stages]
            rows.append({
                "id": j["jobId"],
                "desc": j.get("description") or "(none)",
                "start_s": (j["submissionTime"] - t0_ms) / 1e3,
                "wall_s": ((j.get("completionTime") or j["submissionTime"]) - j["submissionTime"]) / 1e3,
                "task_s": sum(st["executorRunTime"] for st in ran) / 1e3,
                "cpu_s": sum(st["executorCpuTime"] for st in ran) / 1e9,
                "tasks": sum(st["numCompleteTasks"] for st in ran),
            })

        print(f"{'job':>5} {'description':<32} {'start_s':>8} {'wall_s':>7} {'task_s':>7} {'cpu_s':>7} {'tasks':>6}")
        for r in rows:
            print(f"{r['id']:>5} {r['desc']:<32} {r['start_s']:>8.3f} {r['wall_s']:>7.3f} "
                  f"{r['task_s']:>7.3f} {r['cpu_s']:>7.3f} {r['tasks']:>6}")
        per: dict[str, list] = defaultdict(lambda: [0, 0.0, 0.0, 0.0, 0])
        for r in rows:
            t = per[r["desc"]]
            t[0] += 1
            t[1] += r["wall_s"]
            t[2] += r["task_s"]
            t[3] += r["cpu_s"]
            t[4] += r["tasks"]
        print(f"\n{'description':<32} {'jobs':>5} {'wall_s':>7} {'task_s':>7} {'cpu_s':>7} {'tasks':>6}")
        for desc, (n, wall, task, cpu, tasks) in sorted(per.items()):
            print(f"{desc:<32} {n:>5} {wall:>7.3f} {task:>7.3f} {cpu:>7.3f} {tasks:>6}")
        print(f"\nbuild: {len(rows)} jobs, derive wall {t_derive / 1e3:.3f} s, "
              f"derive + context wall {wall_s:.3f} s")
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
