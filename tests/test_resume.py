"""Checkpoint / lineage / resume properties (ops 5, 53, 54)."""

import json
import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from linkgraph.checkpoint import CheckpointManager
from linkgraph.derive import GraphTables, build_degrees, build_graph
from linkgraph.pregel import (
    BFSProgram,
    ComponentsProgram,
    GraphContext,
    PageRankProgram,
    run_program,
)
from linkgraph.synth import micro_transcripts, synth_transcripts

P = 8


def _ranks(state, n):
    pdf = state.toPandas()
    out = np.zeros(n)
    out[pdf["vid"].to_numpy(np.int64)] = pdf[pdf.columns[-1]].to_numpy()
    return out


def _steps(root, algo):
    d = os.path.join(root, algo)
    return sorted(s for s in os.listdir(d) if s.startswith("step_") and "._tmp" not in s)


def test_checkpoint_chain_and_manifests(tmp_path, spark):
    g = build_graph(synth_transcripts(spark, n_conversations=30, seed=42))
    ctx = GraphContext.build(g, P)
    try:
        root = str(tmp_path / "ck")
        res = run_program(ctx, PageRankProgram(tol=1e-6), max_iter=60, ckpt_root=root)
        assert res.converged
        steps = _steps(root, "pagerank")
        assert len(steps) == res.supersteps
        # lineage: each manifest names its parent; fingerprints constant
        for i, s in enumerate(steps):
            with open(os.path.join(root, "pagerank", s, "manifest.json")) as f:
                m = json.load(f)
            assert m["superstep"] == i + 1
            assert m["parent"] == (steps[i - 1] if i else None)
            assert m["input_fingerprint"] == ctx.fingerprint
            assert sum(pp["rows"] for pp in m["per_partition"]) == ctx.n_vertices
            assert m["metrics"]["edges_scattered"] == ctx.nnz_directed
        # metrics sink: one line per superstep
        with open(os.path.join(root, "pagerank", "metrics.jsonl")) as f:
            lines = [json.loads(l) for l in f]
        assert [l["superstep"] for l in lines] == list(range(1, res.supersteps + 1))
        assert lines[-1]["delta"] < 1e-6
    finally:
        ctx.unpersist()


def test_lineage_values_pinned(tmp_path, spark):
    """Every step's lineage entry is the row count and the order-insensitive
    checksum of exactly the state it stored: rows == n_vertices and
    checksum == sum(crc32(concat_ws(",", state_cols))) over read_state(t)."""
    g = build_graph(synth_transcripts(spark, n_conversations=30, seed=42))
    ctx = GraphContext.build(g, P)
    try:
        root = str(tmp_path / "ck")
        for prog in (PageRankProgram(tol=1e-6), ComponentsProgram()):
            res = run_program(ctx, prog, max_iter=60, ckpt_root=root)
            cols = list(prog.state_cols)
            cm = CheckpointManager(
                spark, root, prog.name, ctx.fingerprint, P, ctx.n_vertices, cols
            )
            for t in range(1, res.supersteps + 1):
                (lineage,) = cm.manifest(t)["per_partition"]
                expected = (
                    cm.read_state(t)
                    .agg(F.sum(F.crc32(F.concat_ws(",", *cols))).alias("c"))
                    .collect()[0]["c"]
                )
                assert lineage == {
                    "part_id": -1, "rows": ctx.n_vertices, "checksum": expected,
                }, (prog.name, t)
    finally:
        ctx.unpersist()


def test_uri_checkpoint_root_rejected(tmp_path, monkeypatch, spark):
    """The checkpoint writes local paths only: a URI root raises before any
    job runs and leaves no stray directory under the cwd."""
    g = build_graph(synth_transcripts(spark, n_conversations=30, seed=42))
    ctx = GraphContext.build(g, P)
    try:
        monkeypatch.chdir(tmp_path)
        with pytest.raises(ValueError, match="file:///"):
            run_program(
                ctx, ComponentsProgram(), fixed_iters=2,
                ckpt_root=f"file://{tmp_path}/ck",
            )
        assert os.listdir(tmp_path) == []
    finally:
        ctx.unpersist()


def test_kill_and_resume_equals_uninterrupted(tmp_path, spark):
    g = build_graph(synth_transcripts(spark, n_conversations=30, seed=42))
    ctx = GraphContext.build(g, P)
    n = ctx.n_vertices
    try:
        # uninterrupted run
        root_a = str(tmp_path / "a")
        full = run_program(ctx, PageRankProgram(tol=1e-6), max_iter=60, ckpt_root=root_a)
        r_full = _ranks(full.state, n)

        # killed at superstep k: simulate by dropping every step beyond k
        root_b = str(tmp_path / "b")
        run_program(ctx, PageRankProgram(tol=1e-6), max_iter=60, ckpt_root=root_b)
        steps = _steps(root_b, "pagerank")
        k = 3
        for s in steps[k:]:
            shutil.rmtree(os.path.join(root_b, "pagerank", s))
        resumed = run_program(ctx, PageRankProgram(tol=1e-6), max_iter=60, ckpt_root=root_b)
        assert resumed.resumed_from == k
        assert resumed.supersteps == full.supersteps
        # bit-identical: both runs read state from parquet checkpoints
        assert (_ranks(resumed.state, n) == r_full).all()
    finally:
        ctx.unpersist()


@pytest.mark.parametrize(
    "make_prog",
    [
        lambda spark: PageRankProgram(tol=0.0),
        lambda spark: BFSProgram(spark.createDataFrame([(0,)], "vid long")),
    ],
    ids=["pagerank", "bfs"],
)
def test_hub_split_kill_and_resume_equals_uninterrupted(tmp_path, spark, make_prog):
    """Forced hub split on star_hub, killed after step 2 of 4: the resumed
    run starts with the prologue on the checkpointed state and unions the
    hub messages (static pack for PageRank, frontier join for BFS) into
    its first superstep, and ends bit-identical to the uninterrupted run."""
    g = build_graph(micro_transcripts(spark, "star_hub"))
    ctx = GraphContext.build(g, 4, hub_theta=0, hub_floor=0)
    n = ctx.n_vertices
    try:
        assert ctx.nnz_hub > 0 and ctx.nnz_uhub > 0
        full = run_program(ctx, make_prog(spark), fixed_iters=4, ckpt_root=str(tmp_path / "a"))
        root_b = str(tmp_path / "b")
        algo = make_prog(spark).name
        run_program(ctx, make_prog(spark), fixed_iters=4, ckpt_root=root_b)
        for s in _steps(root_b, algo)[2:]:
            shutil.rmtree(os.path.join(root_b, algo, s))
        resumed = run_program(ctx, make_prog(spark), fixed_iters=4, ckpt_root=root_b)
        assert resumed.resumed_from == 2 and resumed.supersteps == full.supersteps == 4
        assert np.array_equal(_ranks(resumed.state, n), _ranks(full.state, n))
    finally:
        ctx.unpersist()


def test_partial_tmp_step_replaced_on_resume(tmp_path, spark):
    """A killed attempt's step_{k+1}._tmp holding only some partitions' part
    files (and a half-written one) is never resumed from: the rerun resumes
    from step k, replaces the tmp dir, and step k+1 then holds exactly
    n_vertices rows; the result is bit-identical to the uninterrupted run."""
    g = build_graph(synth_transcripts(spark, n_conversations=30, seed=42))
    ctx = GraphContext.build(g, P)
    n = ctx.n_vertices
    try:
        full = run_program(ctx, PageRankProgram(tol=0.0), fixed_iters=5, ckpt_root=str(tmp_path / "a"))
        root = str(tmp_path / "b")
        run_program(ctx, PageRankProgram(tol=0.0), fixed_iters=5, ckpt_root=root)
        algo_dir = os.path.join(root, "pagerank")
        k = 2
        # the killed attempt at step k+1: half the part files, one torn
        # dot-named write, no _SUCCESS and no manifest
        tmp = os.path.join(algo_dir, f"step_{k + 1:06d}._tmp")
        os.rename(os.path.join(algo_dir, f"step_{k + 1:06d}"), tmp)
        os.remove(os.path.join(tmp, "manifest.json"))
        os.remove(os.path.join(tmp, "state", "_SUCCESS"))
        parts = sorted(f for f in os.listdir(os.path.join(tmp, "state")) if f.startswith("part-"))
        assert len(parts) == P
        for f in parts[: P // 2]:
            os.remove(os.path.join(tmp, "state", f))
        with open(os.path.join(tmp, "state", ".part-0.tmp"), "wb") as f:
            f.write(b"PAR1")
        for s in _steps(root, "pagerank")[k:]:
            shutil.rmtree(os.path.join(algo_dir, s))

        resumed = run_program(ctx, PageRankProgram(tol=0.0), fixed_iters=5, ckpt_root=root)
        assert resumed.resumed_from == k and resumed.supersteps == 5
        assert not os.path.exists(tmp)
        cm = CheckpointManager(
            spark, root, "pagerank", ctx.fingerprint, P, n, list(PageRankProgram.state_cols)
        )
        assert cm.read_state(k + 1).count() == n
        assert (_ranks(resumed.state, n) == _ranks(full.state, n)).all()
    finally:
        ctx.unpersist()


def test_fewer_vertices_than_partitions_resume(tmp_path, spark):
    """With fewer vertices than P some partitions hold no state rows and
    write no part file; a checkpointed run still resumes bit-identically."""
    vertices = spark.createDataFrame(
        [(f"v{i}", i, "actor") for i in range(5)], "vkey string, vid long, vtype string"
    )
    edges = spark.createDataFrame(
        [(0, 1, "t", 1.0), (1, 2, "t", 2.0), (2, 0, "t", 1.0), (3, 4, "t", 1.0)],
        "src long, dst long, etype string, w double",
    )
    ctx = GraphContext.build(GraphTables(vertices, edges, build_degrees(edges, vertices)), P)
    n = ctx.n_vertices
    try:
        assert n < P
        full = run_program(ctx, PageRankProgram(tol=0.0), fixed_iters=4, ckpt_root=str(tmp_path / "a"))
        root = str(tmp_path / "b")
        run_program(ctx, PageRankProgram(tol=0.0), fixed_iters=4, ckpt_root=root)
        state_dir = os.path.join(root, "pagerank", "step_000001", "state")
        assert len([f for f in os.listdir(state_dir) if f.startswith("part-")]) == n
        for s in _steps(root, "pagerank")[2:]:
            shutil.rmtree(os.path.join(root, "pagerank", s))
        resumed = run_program(ctx, PageRankProgram(tol=0.0), fixed_iters=4, ckpt_root=root)
        assert resumed.resumed_from == 2 and resumed.supersteps == 4
        assert (_ranks(resumed.state, n) == _ranks(full.state, n)).all()
    finally:
        ctx.unpersist()


def test_torn_write_not_resumed(tmp_path, spark):
    """A step dir without _SUCCESS / with bad counts is skipped (trap 7)."""
    g = build_graph(synth_transcripts(spark, n_conversations=30, seed=42))
    ctx = GraphContext.build(g, P)
    try:
        root = str(tmp_path / "ck")
        run_program(ctx, ComponentsProgram(), max_iter=50, ckpt_root=root)
        steps = _steps(root, "components")
        final = int(steps[-1].split("_")[1])
        # torn write: fake a newer step with manifest but corrupt state
        torn = os.path.join(root, "components", f"step_{final + 1:06d}")
        src = os.path.join(root, "components", steps[-1])
        shutil.copytree(src, torn)
        os.remove(os.path.join(torn, "state", "_SUCCESS"))
        cm = CheckpointManager(
            spark, root, "components", ctx.fingerprint, P, ctx.n_vertices,
            ["vid", "part_id", "comp"],
        )
        latest = cm.latest_complete()
        assert latest is not None and latest[0] == final  # torn step skipped
    finally:
        ctx.unpersist()


def test_checkpoint_gc_keeps_resume_point(tmp_path, spark):
    """Retention GC (CheckpointManager.gc): all but the newest keep_last
    complete steps are deleted, a torn NEWER step is never the survivor,
    resume from the survivor equals the uninterrupted run, and the
    metrics audit trail is untouched."""
    g = build_graph(synth_transcripts(spark, n_conversations=30, seed=42))
    ctx = GraphContext.build(g, P)
    try:
        root = str(tmp_path / "ck")
        res = run_program(ctx, PageRankProgram(tol=1e-6), max_iter=60, ckpt_root=root)
        assert res.converged and res.supersteps >= 4
        cm = CheckpointManager(
            spark, root, "pagerank", ctx.fingerprint, P, ctx.n_vertices,
            ["vid", "part_id", "dangling", "rank"],
        )
        before = _steps(root, "pagerank")
        # tear the newest step: GC must still keep TWO complete ones
        newest = before[-1]
        os.remove(os.path.join(root, "pagerank", newest, "state", "_SUCCESS"))
        deleted = cm.gc(keep_last=2)
        after = _steps(root, "pagerank")
        # survivors: the torn newest (never collected forward of the resume
        # point... it IS newest) plus the two newest complete steps
        assert newest in after
        complete_after = [s for s in after if s != newest]
        assert complete_after == before[-3:-1]
        assert len(deleted) == len(before) - 3
        # resume point = newest complete survivor, and it validates
        latest = cm.latest_complete()
        assert latest is not None
        assert f"step_{latest[0]:06d}" == before[-2]
        # metrics audit trail untouched
        with open(os.path.join(root, "pagerank", "metrics.jsonl")) as f:
            lines = f.readlines()
        assert len(lines) == res.supersteps
        # resuming from the survivor reconverges to the same fixed point
        res2 = run_program(
            ctx, PageRankProgram(tol=1e-6), max_iter=60, ckpt_root=root
        )
        assert res2.converged
        n = ctx.n_vertices
        np.testing.assert_allclose(
            _ranks(res.state, n), _ranks(res2.state, n), atol=1e-12
        )
    finally:
        ctx.unpersist()


def test_dangling_mass_carry_equals_recompute(spark):
    """The dangling-mass scalar must be bit-identical whether it comes from
    the superstep's observed stat (carry path) or is recomputed from the
    checkpointed state (first-superstep-after-resume path) — both are
    exact decimal(38,25) sums, so task-completion order cannot perturb
    them (the root cause of the load-dependent resume flake)."""
    vertices = spark.createDataFrame(
        [(f"v{i}", i, "actor") for i in range(6)],
        "vkey string, vid long, vtype string",
    )
    # vertices 1 and 5 are dangling (no out-edges)
    edges = spark.createDataFrame(
        [(0, 1, "t", 1.0), (2, 1, "t", 1.0), (3, 5, "t", 1.0), (4, 0, "t", 1.0)],
        "src long, dst long, etype string, w double",
    )
    g = GraphTables(vertices, edges, build_degrees(edges, vertices))
    ctx = GraphContext.build(g, 4)
    try:
        res = run_program(ctx, PageRankProgram(tol=0.0), fixed_iters=3)
        carried = res.stats_history[-1]["dangling_mass"]
        recomputed = float(
            res.state.where("dangling")
            .agg(F.sum(F.col("rank").cast("decimal(38,25)")))
            .collect()[0][0]
        )
        assert carried == recomputed  # bitwise, not approx
        assert carried > 0.0
    finally:
        ctx.unpersist()
