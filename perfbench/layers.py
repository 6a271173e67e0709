"""Per-layer metrics of one rep, from its spans and the Spark stages and
jobs assigned to them.  Layer names are linkgraph module names; a layer the
workload does not run reports 0."""

from __future__ import annotations

import statistics
from pathlib import Path

from spans import Span, Tracer, covered_s, subtree

PROGRAMS = ("pagerank", "components", "labelprop")
_PREGEL_KEYS = (
    "wall_s", "supersteps", "step_p50_s", "step_max_s", "jobs_per_step", "stages_per_step",
    "idle_frac", "task_s_per_step", "jvm_cpu_s_per_step", "shuffle_write_bytes_per_step",
)


def unit_of(name: str) -> str:
    if name.endswith("_s") or name.endswith("_s_per_step"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith("_frac") or name == "trace.coverage":
        return "frac"
    if name.endswith("_mb"):
        return "MB"
    return "count"


def _sum(span: Span | None, key: str, scale: float = 1.0) -> float:
    return sum(st[key] for st in span.stages) * scale if span else 0.0


def _ckpt_files_bytes(step_state: Path) -> tuple[int, int]:
    files = [p for p in step_state.rglob("*") if p.is_file()]
    return len(files), sum(p.stat().st_size for p in files)


def layer_metrics(
    tracer: Tracer, rep_i: int, rep, ckpt_root: Path, cores: int, turns: int, probe: tuple[float, int]
) -> dict[str, float]:
    m: dict[str, float] = {}

    d = tracer.find("derive", rep_i)
    m["derive.wall_s"] = d.wall_s if d else 0.0
    m["derive.stages"] = len(d.stages) if d else 0
    m["derive.task_s"] = _sum(d, "executorRunTime", 1e-3)
    m["derive.max_task_s"] = max((st["maxTaskRunTime"] for st in d.stages), default=0) / 1e3 if d else 0.0
    m["derive.shuffle_write_bytes"] = _sum(d, "shuffleWriteBytes")
    m["derive.turns"] = turns if d else 0
    m["derive.vertices"] = rep.ctx.n_vertices if d else 0
    m["derive.edges"] = len(rep.edges_np[0]) if d and rep.edges_np else 0

    c = tracer.find("context", rep_i)
    m["context.wall_s"] = c.wall_s
    m["context.spark_jobs"] = len(c.jobs)
    m["context.stages"] = len(c.stages)
    m["context.task_s"] = _sum(c, "executorRunTime", 1e-3)
    m["context.shuffle_write_bytes"] = _sum(c, "shuffleWriteBytes")
    for k in ("nnz_directed", "nnz_undirected", "nnz_hub", "nnz_uhub"):
        m[f"context.{k}"] = getattr(rep.ctx, k)

    total_steps = 0
    write_task_s = 0.0
    files = nbytes = 0
    for p in PROGRAMS:
        pre = f"pregel.{p}."
        s = tracer.find(f"pregel.{p}", rep_i)
        res = rep.results.get(p)
        if s is None or res is None:
            m.update({pre + k: 0.0 for k in _PREGEL_KEYS})
            continue
        steps = res.supersteps - res.resumed_from
        walls = [h["wall_s"] for h in res.stats_history]
        task_s = _sum(s, "executorRunTime", 1e-3)
        m[pre + "wall_s"] = s.wall_s
        m[pre + "supersteps"] = steps
        m[pre + "step_p50_s"] = statistics.median(walls)
        m[pre + "step_max_s"] = max(walls)
        m[pre + "jobs_per_step"] = len(s.jobs) / steps
        m[pre + "stages_per_step"] = len(s.stages) / steps
        m[pre + "idle_frac"] = 1.0 - task_s / (s.wall_s * cores)
        m[pre + "task_s_per_step"] = task_s / steps
        m[pre + "jvm_cpu_s_per_step"] = _sum(s, "executorCpuTime", 1e-9) / steps
        m[pre + "shuffle_write_bytes_per_step"] = _sum(s, "shuffleWriteBytes") / steps
        total_steps += steps
        # the durable checkpoint write is the only stage of a superstep
        # loop that writes output files
        write_task_s += sum(st["executorRunTime"] for st in s.stages if st["outputBytes"]) / 1e3
        for step_dir in (ckpt_root / p).glob("step_*"):
            f, b = _ckpt_files_bytes(step_dir / "state")
            files += f
            nbytes += b
    m["checkpoint.bytes_per_step"] = nbytes / total_steps
    m["checkpoint.files_per_step"] = files / total_steps
    m["checkpoint.write_task_s_per_step"] = write_task_s / total_steps
    m["checkpoint.resume_probe_s"], m["checkpoint.resumed_from"] = probe

    t = tracer.find("triangles", rep_i)
    m["triangles.wall_s"] = t.wall_s if t else 0.0
    m["triangles.stages"] = len(t.stages) if t else 0
    m["triangles.shuffle_write_bytes"] = _sum(t, "shuffleWriteBytes")
    m["triangles.total"] = rep.triangles.total if rep.triangles is not None else 0

    whole = tracer.find("rep", rep_i)
    spans = subtree(tracer.spans, whole)
    stages = [st for s in spans for st in s.stages]
    m["spark.jobs"] = sum(len(s.jobs) for s in spans)
    m["spark.stages"] = len(stages)
    m["spark.tasks_failed"] = sum(st["numFailedTasks"] for st in stages)
    m["spark.gc_s"] = sum(st["jvmGcTime"] for st in stages) / 1e3
    m["trace.coverage"] = covered_s(
        [(st["submissionTime"], st["completionTime"]) for st in stages],
        whole.start_ms, whole.end_ms,
    ) / whole.wall_s
    return m
