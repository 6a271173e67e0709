"""Diagnostic probe (guide §1): superstep plan shape + job/stage counts.

Builds the bench graph at a configurable sf, prints .explain("formatted")
and the Exchange / Arrow node counts of one PageRank superstep twice — the
composite ``superstep()`` on a plain state, and the fused step
``run_program`` runs on the carried table — then the wall and job counts
the loop actually dispatches (with and without durable checkpoints).
NOT part of the frozen bench surface.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import shutil
import sys
import tempfile
import time

sf = float(os.environ.get("PROBE_SF", "0.1"))
cpus = int(os.environ.get("PROBE_CPUS", len(os.sched_getaffinity(0))))
P = cpus

from linkgraph.session import get_spark

spark = get_spark(app_name="probe", master=f"local[{cpus}]", shuffle_partitions=P)
spark.sparkContext.setLogLevel("ERROR")

from linkgraph.derive import build_graph
from linkgraph.pregel import GraphContext, PageRankProgram, _materialize, aqe_off, run_program
from linkgraph.synth import synth_transcripts

n_conv = max(50, int(280_000 * sf))
ck = tempfile.mkdtemp(prefix="probe_ck_")
tdir = ck + "/transcripts"
synth_transcripts(spark, n_conversations=n_conv, seed=42, n_agents=200,
                  unique_users=True).write.mode("overwrite").parquet(tdir)
transcripts = spark.read.parquet(tdir)

g = build_graph(transcripts, cache=True)
ctx = GraphContext.build(g, P, hub_theta=256)

st = spark.sparkContext.statusTracker()


def job_count():
    return len(st.getJobIdsForGroup(None) or [])


def run_steps(tag, ckpt_root, steps=3):
    spark.sparkContext.setJobDescription(f"probe:{tag}")
    j0 = job_count()
    t0 = time.monotonic()
    run_program(ctx, PageRankProgram(tol=0.0), max_iter=steps,
                ckpt_root=ckpt_root, resume=False)
    wall = time.monotonic() - t0
    print(f"[{tag}] steps={steps} wall={wall:.2f}s per_step={wall/steps:.3f}s "
          f"jobs={job_count()-j0}")


_NODE = re.compile(r"^[\s:+\-|]*([A-Za-z][\w ]*?) \((\d+)\)\s*$")


def show_plan(tag, df):
    """Print the formatted plan and its Exchange / Arrow node counts, each
    numbered operator of the tree section counted once."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    print(f"== {tag} ==")
    print(plan)
    nodes = {}
    for line in plan.splitlines()[1:]:
        if not line.strip():
            if nodes:
                break
            continue
        m = _NODE.match(line)
        if m:
            nodes[m.group(2)] = m.group(1)
    names = list(nodes.values())
    print(f"[{tag}] Exchange nodes:", sum(n.endswith("Exchange") for n in names))
    print(f"[{tag}] Arrow/python nodes:",
          sum(n in ("FlatMapCoGroupsInArrow", "ArrowEvalPython", "BatchEvalPython", "MapInArrow")
              for n in names))


# plans before materialization, built with AQE off as run_program builds them
prog = PageRankProgram(tol=0.0)
with aqe_off(spark):
    state = prog.init_state(ctx).repartition(P, "part_id").localCheckpoint()
    # the composite superstep() on a plain state (materializes its prologue)
    show_plan("superstep()", prog.superstep(ctx, state).select(*prog.state_cols)
              .repartition(P, "part_id"))
    # the in-loop fused step: one cogroup of the blocks with the carried
    # table, then the message exchange that run_program materializes
    carried, carry = _materialize(prog, ctx, prog._prologue(ctx, state), "probe")
    show_plan("fused step", prog._step(ctx, carried, carry).repartition(P, "part_id"))

run_steps("warm", None, 2)
run_steps("no_ckpt", None, 5)
run_steps("ckpt", ck + "/pr", 5)
spark.stop()
shutil.rmtree(ck, ignore_errors=True)
