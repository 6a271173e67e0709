"""linkgraph benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload transcripts_e2e --seed 1 --seconds 10 --trace 0

Run from the root of a linkgraph checkout.  Set-up starts a ``local[4]``
session, warms it, and writes the seeded inputs to parquet; the timed region
then repeats the workload's engine chain until ``--seconds`` of it have been
measured (at least once).  Every result is checked against the single-node
reference outside the timed region.  ``--trace 0`` reports the end-to-end
metrics, ``--trace 1`` the per-layer ones (see perfbench/README.md).  The last
line of stdout is ``{"correct", "attempted", "failed", "metrics"}``.

All scratch data (Spark local dirs, temp files, checkpoints, inputs) lives in
``.perfbench_work/`` inside the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
CORES = 4
SETUP_REPEATS = 2  # input writes per run; setup_s uses their median
RUN_WALL_LIMIT_S = 150.0  # no new rep once one more would likely end past this

E2E_UNITS = {
    "setup_s": "s",
    "time_to_solution_s": "s",
    "graph_build_s": "s",
    "pagerank_supersteps_per_s": "1/s",
    "edges_scattered_per_s": "1/s",
}


def _prepare_env(work: Path) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``, and
    let the Python workers import linkgraph from the checkout."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    sys.path.insert(0, str(ROOT))


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _warm_up(spark) -> None:
    """One Arrow grouped-map job with a shuffle: forks the Python worker pool
    and loads the Arrow paths, as a long-lived executor would have done."""
    from pyspark.sql import functions as F

    def _echo(_key, tbl):
        return tbl

    (
        spark.range(0, CORES * 4, 1, CORES)
        .withColumn("g", F.col("id") % CORES)
        .groupBy("g")
        .applyInArrow(_echo, "id long, g long")
        .count()
    )


def _superstep_plan_shape(spark, ctx) -> tuple[int, int]:
    """Exchanges and Arrow/Python nodes of one PageRank superstep, built
    through the program API with AQE off, as ``run_program`` runs it."""
    from linkgraph.pregel import PageRankProgram
    from spans import plan_shape

    prog = PageRankProgram(tol=0.0)
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        state = prog.init_state(ctx).repartition(ctx.P, "part_id").localCheckpoint()
        step = prog.superstep(ctx, state).select(*prog.state_cols).repartition(ctx.P, "part_id")
        return plan_shape(step)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def _host_record(spark, seed: int, workload: str) -> dict:
    import pyspark

    from workloads import P

    return {
        "workload": workload,
        "seed": seed,
        "nproc": len(os.sched_getaffinity(0)),
        "master": spark.sparkContext.master,
        "P": P,
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
    }


def _stop(spark) -> None:
    """Stop Spark, then the JVM the session launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_run0 = time.perf_counter()
    load_start = os.getloadavg()[0]

    work = ROOT / ".perfbench_work" / f"run-{os.getpid()}"
    _prepare_env(work)
    try:
        return _run(args, work, t_run0, load_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:  # another run still uses it
            pass


def _run(args, work: Path, t_run0: float, load_start: float) -> int:
    # Importing linkgraph fails fast (before any result is printed) when the
    # benchmark runs outside a linkgraph checkout.
    import workloads
    from linkgraph.session import get_spark
    from spans import Tracer, attribute, read_status_store

    wl = workloads.WORKLOADS.get(args.workload)
    if wl is None:
        raise SystemExit(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}")

    setup: dict[str, float] = {}
    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"linkgraph-bench-{wl.name}",
        master=f"local[{CORES}]",
        shuffle_partitions=workloads.P,
        extra_conf={
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            # the traced run reads every stage of the timed region back
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    setup["session.start_s"] = time.perf_counter() - t0
    try:
        host = _host_record(spark, args.seed, wl.name)
        host["loadavg_1m_start"] = load_start

        t0 = time.perf_counter()
        _warm_up(spark)
        setup["setup.warmup_s"] = time.perf_counter() - t0

        writes = []
        for i in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            inputs = wl.make_inputs(spark, args.seed, str(work / f"input{i}"))
            writes.append(time.perf_counter() - t0)
        setup["setup.input_write_s"] = statistics.median(writes)
        _log(" ".join(f"{k}={v:.3f}" for k, v in setup.items()) + f" writes={writes}")
        setup_s = setup["session.start_s"] + setup["setup.warmup_s"] + setup["setup.input_write_s"]

        tracer = Tracer()
        attempted = failed = 0
        measured = 0.0
        reps: list = []
        traced: list[tuple] = []  # (rep index, rep, checkpoint root, resume probe)
        plan: tuple[int, int] | None = None
        while not reps or measured < args.seconds:
            rep_i = tracer.rep = len(reps)
            ckpt_root = work / f"ckpt{rep_i}"
            attempted += wl.n_ops
            try:
                rep = wl.run(spark, tracer, inputs, str(ckpt_root))
            except Exception:  # a failed engine call fails the whole chain
                traceback.print_exc(file=sys.stderr)
                failed += wl.n_ops
                break
            reps.append(rep)
            measured += rep.e2e["time_to_solution_s"]
            t0 = time.perf_counter()
            try:
                checks = wl.check(rep)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                checks = [("gate", False)]
            attempted += len(checks)
            _log(f"rep {rep_i}: " + " ".join(f"{k}={v:.3f}" for k, v in rep.e2e.items())
                 + f" gate_s={time.perf_counter() - t0:.3f} pagerank_step_walls="
                 + ",".join(f"{h['wall_s']:.2f}" for h in rep.results["pagerank"].stats_history))
            for name, ok in checks:
                if not ok:
                    failed += 1
                    _log(f"check failed: {name}")
            if args.trace:
                if plan is None:
                    plan = _superstep_plan_shape(spark, rep.ctx)
                probe = workloads.checkpoint_probe(spark, str(ckpt_root), rep.ctx)
                traced.append((rep_i, rep, ckpt_root, probe))
            else:
                rep.release()
                shutil.rmtree(ckpt_root, ignore_errors=True)
            elapsed = time.perf_counter() - t_run0
            if elapsed + rep.e2e["time_to_solution_s"] > RUN_WALL_LIMIT_S:
                break

        if args.trace:
            from layers import layer_metrics, unit_of

            stages, jobs = read_status_store(spark.sparkContext)
            attribute(tracer.spans, stages, jobs)
            per_rep = []
            for rep_i, rep, ckpt_root, probe in traced:
                per_rep.append(
                    layer_metrics(tracer, rep_i, rep, ckpt_root, CORES, inputs["turns"], probe)
                )
                rep.release()
            metrics = {
                k: {"value": float(statistics.median(r[k] for r in per_rep)), "unit": unit_of(k)}
                for k in per_rep[0]
            } if per_rep else {}
            extra = {
                **setup,
                "spark.jvm_peak_rss_mb": _vm_hwm_mb(jvm_pid),
                "trace.overhead_s": tracer.overhead_s,
            }
            if plan is not None:
                extra["plan.superstep_exchanges"], extra["plan.superstep_python_nodes"] = plan
            metrics.update({k: {"value": float(v), "unit": unit_of(k)} for k, v in extra.items()})
        else:
            e2e = {k: statistics.median(r.e2e[k] for r in reps) for k in reps[0].e2e} if reps else {}
            e2e["setup_s"] = setup_s
            metrics = {k: {"value": float(e2e.get(k, 0.0)), "unit": u} for k, u in E2E_UNITS.items()}

        host["reps"] = len(reps)
        host["loadavg_1m_end"] = os.getloadavg()[0]
        print(json.dumps({"host": host}))
    finally:
        t0 = time.perf_counter()
        _stop(spark)
        _log(f"stop_s={time.perf_counter() - t0:.3f} run_s={time.perf_counter() - t_run0:.3f}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
