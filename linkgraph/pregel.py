"""Pregel-style superstep runner over CSR blocks (SURVEY.md §2.10).

Build: ``GraphContext.build`` makes the static side of a run once.  It
materializes the pre-summed edge table, the per-src degrees, the symmetrized
view and the directed/undirected CSR blocks (hub rows included) with eager
``localCheckpoint``s, and reads every figure it needs (nnz counts, the hub
vid sets, the lineage fingerprint) off ``Observation``s on those same jobs,
so no statistic costs a query of its own.

Execution model (all per-edge work is vectorized numpy inside Arrow-batched
cogroup UDFs — zero per-row Python).  Between supersteps the loop holds ONE
materialized **carried table**, hash-partitioned by ``part_id``.  It has three
kinds of rows: partition p's state rows (``vid`` set, ``dst``/payload lists
empty), the packed message rows addressed to p (``vid`` and every state
column null, one ``dst[]`` + payload-list row per sending block) and the
hub mirror rows addressed to p (``vid``, state and lists null, ``mirror``
one Arrow IPC stream of a sending partition's hub states).  The lists of
state rows are empty rather than null because Spark's JVM->Arrow writer is
quadratic in null list entries (measured: 20k state rows per partition
cost 3.3-4.0 s with null lists, 0.3-0.4 s with empty ones).

    prologue : cogroup(blocks, state_0) on part_id in scatter-only mode —
               state_0 passes through with a zero stat column and is
               scattered; this gives the first carried table and, through
               the Observation of ``stat_exprs()``, state_0's stats (e.g.
               PageRank's first dangling mass)
    superstep: cogroup(blocks, carried_t) on part_id -> ONE Arrow pass per
               partition: scatter the mirrored hub states through p's hub
               block, apply those and the incoming messages to state_t
               (dense residue-class indexing, no join), scatter state_{t+1}
               through block p (block-local gather + per-udst
               pre-aggregation), emit state_{t+1} rows + packed messages +
               mirrors of p's hubs
    exchange : ONE shuffle by part_id routes the messages to their
               destination partition (state rows stay put) and re-pins the
               partitioning for the next cogroup
    stats    : global aggregates observed on the materialization job
               (message and mirror rows are all-null there, so sums/maxima
               skip them)
    persist  : eager localCheckpoint keeps the plan one superstep deep
               (op 54); with a checkpoint root, each partition's task also
               writes its state rows as the step's durable part file, and
               the step's lineage (row count + checksum) rides the same
               observation as the stats

So a superstep is one Spark job: one Python stage and one Exchange,
checkpointed or not.  The carried table is
materialized once and read by exactly one consumer, and the blocks are
static, so nothing is recomputed.  ``RunResult.state`` and the durable
checkpoints are the state rows of the last carried table, projected to
``state_cols`` (filter + project keep the ``part_id`` partitioning).

A program declares ``state_cols``/``init_state``, ``apply_schema`` (state +
one stat column), ``msg_types``, ``uses_undirected`` and two numpy kernels,
both staticmethods closing over plain scalars only:

    scatter(blk, st) -> (udst, {payload: array}) | None
        blk(name): CSR block column; st(col): source state, dense by (vid-p)//P
    apply(st, nloc, loc, m, **step_params) -> {column: array}
        loc/m[payload]: flat incoming messages (typed empties if none)

Hub vertices (op 47) are scattered by the same ``scatter`` kernel from
mirrored state.  Mod partitioning puts a vertex's whole adjacency row in one
block, so the build moves each row longer than the hub threshold into
destination-keyed hub blocks: block table row (p, hub=True) holds the hub
edges whose dst is in partition p, indexed by position in the sorted hub
vid list (``GraphContext.hubs``/``uhubs``).  The partition that owns a hub
sends its state to every partition as a mirror row, and each receiver
scatters its hub block from those mirrors, so a hub's edges are spread over
all P scatter tasks.  Mirrors ride the superstep's one Exchange; a split
superstep has the unsplit shape.

The scatter carries at most |udst| values per block (unique dsts), not nnz —
the block-local bincount is the map-side combine — packed as P array rows
per block.  Skewed hub dsts are therefore bounded by P partial rows each,
so no engine path needs the explicit salted two-phase aggregation for raw
message streams (``skew.salted_sum``).
"""

from __future__ import annotations

import contextlib
import decimal
import functools
import itertools
import threading
import time
from dataclasses import dataclass, field
from typing import Any

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .checkpoint import (
    LINEAGE, CheckpointManager, fingerprint_exprs, format_fingerprint, lineage_exprs, write_part,
)
from .csr import build_csr_blocks, symmetrize
from .derive import GraphTables
from .session import job_description


@contextlib.contextmanager
def aqe_off(spark: SparkSession):
    """Disable adaptive query execution for the block, then restore the
    session's previous value (also when the block raises)."""
    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _observed(df: DataFrame, *exprs) -> tuple[DataFrame, dict[str, Any]]:
    """Eagerly ``localCheckpoint`` df and observe the aggregate exprs on
    that same job (CollectMetrics), so a build statistic costs no query of
    its own.  Returns the checkpointed table and {alias: value}."""
    obs = Observation(f"context.build-{_next_obs_id()}")
    return df.observe(obs, *exprs).localCheckpoint(), obs.get


def _degrees(edges: DataFrame) -> DataFrame:
    """Per-src row length and weight of a one-row-per-(src, dst) edge
    table: vid, out_deg, out_w."""
    return (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("out_deg"), F.sum("w").alias("out_w"))
        .withColumnRenamed("src", "vid")
    )


@dataclass
class GraphContext:
    """Built once per graph; blocks cached across supersteps."""

    spark: SparkSession
    P: int
    n_vertices: int
    vertex_base: DataFrame          # vid, part_id, dangling (cached)
    blocks: DataFrame               # directed CSR + hub blocks (cached)
    ublocks: DataFrame              # symmetrized undirected CSR + hub blocks
    nnz_directed: int               # residue-class blocks only
    nnz_undirected: int             # TOTAL undirected nnz (blocks + hub)
    fingerprint: str
    # op 47 hub split, per side: the sorted vids whose adjacency row is
    # packed into the destination-keyed hub block rows instead of the
    # residue-class blocks (csr.build_csr_blocks), and the number of those
    # edges.  The superstep mirrors these vertices' state to every partition.
    hubs: tuple[int, ...] = ()
    nnz_hub: int = 0
    uhubs: tuple[int, ...] = ()
    nnz_uhub: int = 0
    _cached_inputs: tuple = ()

    @staticmethod
    def build(
        graph: GraphTables,
        P: int,
        hub_theta: int | None = None,
        hub_floor: int = 65536,
    ) -> "GraphContext":
        """hub_theta: degree above which a vertex's adjacency row is pulled
        out of its residue-class CSR block into the destination-keyed hub
        block rows, scattered on every partition from mirrored hub state
        (see the module docstring; skew.py) — applied to BOTH the directed
        blocks (out-degree, PageRank) and the symmetrized blocks (undirected
        degree, CC/LPA): mod partitioning puts a vertex's whole adjacency
        row in one block, so an unsplit hub would serialize one partition
        of every scatter (VERDICT r01 item 4).

        All static context tables are EAGERLY materialized with
        ``localCheckpoint`` rather than ``persist``: a cached plan that still
        embeds broadcast subqueries re-executes those subqueries (and their
        whole upstream derivation) on every job that references it — which
        turned each superstep into a full graph re-derivation.  Truncating
        the lineage makes the per-superstep plan reference only materialized
        RDDs.  (On a multi-executor cluster, executor loss invalidates a
        localCheckpoint; the durable recovery path is the checkpoint
        manager + re-running GraphContext.build, which is cheap relative to
        the iteration itself.)

        Every statistic the build needs rides an ``Observation`` on the
        ``localCheckpoint`` job of the table it describes (``_observed``),
        so the build runs no query of its own beyond the vertex count:

            esum        pre-summed (src, dst) edges; observes the row count
                        (nnz_total) and the fingerprint aggregates
            dirdeg      per-src degrees off esum; observes the hub vids (rows
                        longer than the threshold), their row weights and
                        their degree sum (hubs, nnz_hub)
            sym, udeg   symmetrized view and its degrees (only when an
                        undirected row can exceed the hub threshold, i.e.
                        nnz_total > theta_eff's lower bound); observe its
                        row count, then the undirected hub vids, their row
                        weights and their degree sum (uhubs, nnz_uhub)
            blocks      per side, residue-class and hub block rows from one
                        ``csr.build_csr_blocks`` job; observe the
                        residue-class sum(nnz) (nnz_directed and the
                        undirected block nnz)

        The phases run on concurrent driver threads (Spark schedules jobs
        from separate threads in parallel, which overlaps their fixed
        per-job latencies — VERDICT r01 item 5): count_vertices || esum,
        then dirdeg || sym off esum, then directed || undirected || base.
        Each thread tags its jobs ``context.build:<phase>``; the caller's
        job description is untouched.

        AQE is DISABLED for the MATERIALIZATION phase of the build (the
        three threads that checkpoint blocks/ublocks/base): ``localCheckpoint``
        under AQE wraps the plan in AdaptiveSparkPlanExec, whose output
        partitioning is opaque at checkpoint time, so the captured
        LogicalRDD reports UnknownPartitioning — and every superstep then
        re-Exchanges the full CSR block table and the vertex state through
        EnsureRequirements (measured: 5 Exchanges per superstep instead of
        2).  With AQE off at checkpoint time, the leaf keeps
        hashpartitioning(part_id, P) and the per-superstep cogroups consume
        blocks/state with no exchange at all (guide §2.4).  The pre-phase
        (vertex count, esum, degrees, symmetrized view — the jobs that
        actually execute the graph derivation and fill the persist caches)
        keeps AQE ON: measured ~20-30%% faster with adaptive
        coalescing/broadcasts (the undirected degree aggregate ~2x), and
        nothing it materializes needs pinned partitioning."""
        spark = graph.edges.sparkSession
        # cache the derivation once: vertices/edges plans are embedded in
        # every downstream table.  persist() is lazy — the caches FILL as a
        # side effect of the vertex count and the esum scan.
        graph.vertices.persist()
        graph.edges.persist()
        pre: dict[str, Any] = {}
        errs: list[BaseException] = []

        def _count_vertices() -> None:
            pre["n"] = graph.vertices.count()

        def _theta_eff(nnz_side: int) -> int | None:
            # A vertex only serializes a scatter partition when its
            # adjacency row is a material fraction of a block (~nnz/P rows
            # on average).  Splitting a row below that buys no straggler
            # relief and only adds hub block rows and mirror traffic, so
            # hub_theta is only a LOWER bound; the effective threshold is
            # the max of
            #   - hub_theta (caller intent),
            #   - nnz/(2P): only rows >= half an average CSR block can
            #     straggle a scatter task, at ANY scale (it also keeps each
            #     side under 2P hubs, so mirrors stay small),
            #   - hub_floor (abs): a row under ~64k entries packs/scatters
            #     in microseconds regardless of relative size, so splitting
            #     it never pays — this is what keeps the hub machinery
            #     dormant at toy/bench scale while the relative bound takes
            #     over at production scale.
            # hub_floor=0 is the test hook: trust hub_theta exactly so the
            # split path can be forced on micro fixtures.  None: no split.
            if hub_theta is None or not hub_floor:
                return hub_theta
            return max(hub_theta, nnz_side // (2 * P), hub_floor)

        def _hub_degrees(edges: DataFrame, nnz_side: int) -> tuple:
            """Checkpointed per-src degrees of one side, observing on the
            same job the (vid, out_w) of the rows longer than theta_eff and
            their degree sum (exact: edges has one row per (src, dst)):
            (degree table, sorted hub vids, their out_w, nnz_hub)."""
            theta = _theta_eff(nnz_side)
            hub = F.lit(False) if theta is None else F.col("out_deg") > theta
            deg, st = _observed(
                _degrees(edges),
                F.sort_array(F.collect_list(F.when(hub, F.struct("vid", "out_w")))).alias("hubs"),
                F.sum(F.when(hub, F.col("out_deg"))).alias("nnz_hub"),
            )
            hubs = st["hubs"] or ()
            return (
                deg, tuple(h["vid"] for h in hubs), tuple(h["out_w"] for h in hubs),
                st["nnz_hub"] or 0,
            )

        def _esum() -> None:
            # ONE pre-summed simple edge scan shared by the directed build,
            # the hub degrees, the symmetrized build and the fingerprint.
            esum, st = _observed(
                graph.edges.groupBy("src", "dst").agg(F.sum("w").alias("w")),
                *fingerprint_exprs(),
            )
            pre["esum"], pre["fp"], pre["nnz_total"] = esum, format_fingerprint(st), st["fp_n"]
            _concurrently(_dirdeg, _sym)

        def _dirdeg() -> None:
            # shared by the directed split and the dangling base; out_deg
            # counts distinct dsts, i.e. the CSR row LENGTH — the quantity
            # hub splitting guards
            pre["dirdeg"] = _hub_degrees(pre["esum"], pre["nnz_total"])

        def _sym() -> None:
            # Nothing to size when no undirected row can exceed the
            # threshold: a row is at most nnz_total long and theta_eff is at
            # least _theta_eff(0).  ublocks then read the view lazily.
            theta_min = _theta_eff(0)
            if theta_min is None or pre["nnz_total"] <= theta_min:
                pre["sym"], pre["udeg"] = symmetrize(pre["esum"]), None
                return
            sym, st = _observed(symmetrize(pre["esum"]), F.count(F.lit(1)).alias("nnz"))
            pre["sym"], pre["udeg"] = sym, _hub_degrees(sym, st["nnz"])

        def _concurrently(*fns) -> None:
            """Run fns on concurrent threads and join them; each thread tags
            its jobs ``context.build:<fn name>`` and appends any failure to
            errs."""

            def run(fn):
                try:
                    with job_description(spark.sparkContext) as describe:
                        describe(f"context.build:{fn.__name__.lstrip('_')}")
                        fn()
                except BaseException as exc:  # surface thread failures
                    errs.append(exc)

            threads = [threading.Thread(target=run, args=(fn,), daemon=True) for fn in fns]
            for th in threads:
                th.start()
            for th in threads:
                th.join()

        _concurrently(_count_vertices, _esum)
        if errs:
            raise errs[0]
        n = pre["n"]

        def _side(edges: DataFrame, deg: tuple | None) -> tuple:
            """CSR blocks of one side, its hub rows in destination-keyed hub
            blocks: (blocks, residue-class nnz, hubs, nnz_hub).  deg is
            ``_hub_degrees``' result (None: no split)."""
            _, hubs, hub_out_w, nnz_hub = deg or (None, (), (), 0)
            blocks, st = _observed(
                build_csr_blocks(edges, n, P, True, hubs, hub_out_w),
                F.sum(F.when(~F.col("hub"), F.col("nnz"))).alias("nnz"),
            )
            return blocks, st["nnz"] or 0, hubs, nnz_hub

        out: dict[str, Any] = {}

        def _directed() -> None:
            out["directed"] = _side(pre["esum"], pre["dirdeg"])

        def _undirected() -> None:
            out["undirected"] = _side(pre["sym"], pre["udeg"])

        def _base() -> None:
            # dangling ⇔ no out-edges ⇔ vid absent from the per-src degree
            # table (identical to build_degrees' out_deg == 0, without
            # re-running its two groupBys + two joins over the edge cache).
            out["base"] = (
                graph.vertices.select("vid")
                .join(pre["dirdeg"][0].select("vid", "out_deg"), "vid", "left")
                .select(
                    "vid",
                    F.pmod(F.col("vid"), F.lit(P)).cast("int").alias("part_id"),
                    F.col("out_deg").isNull().alias("dangling"),
                )
                .repartition(P, "part_id")
                .localCheckpoint()
            )

        # AQE off ONLY while the loop-facing tables are checkpointed, so the
        # captured LogicalRDD leaves keep hashpartitioning(part_id, P) — see
        # the build() docstring.  (Session conf is driver-global; the build
        # owns the session for this window, exactly like run_program's loop.)
        with aqe_off(spark):
            _concurrently(_directed, _undirected, _base)
        if errs:
            raise errs[0]

        blocks, nnz_d, hubs, nnz_hub = out["directed"]
        ublocks, nnz_ub, uhubs, nnz_uhub = out["undirected"]
        return GraphContext(
            spark, P, n, out["base"], blocks, ublocks,
            nnz_d, nnz_ub + nnz_uhub, pre["fp"],
            hubs=hubs, nnz_hub=nnz_hub, uhubs=uhubs, nnz_uhub=nnz_uhub,
            _cached_inputs=(graph.vertices, graph.edges),
        )

    def unpersist(self) -> None:
        for df in self._cached_inputs:
            df.unpersist()



# ---- Arrow-native accessors (zero-copy for fixed-width columns) -----------

def _pa_np(chunked: "pa.ChunkedArray") -> np.ndarray:
    return chunked.combine_chunks().to_numpy(zero_copy_only=False)


def _pa_flat(tbl: "pa.Table", name: str) -> np.ndarray:
    """Flattened values of a list column across all rows (offset-aware)."""
    return np.asarray(tbl[name].combine_chunks().flatten())


def _block_np(row: "pa.Table", name: str) -> np.ndarray:
    """Values of list column ``name`` of a one-row block table (zero-copy)."""
    return np.asarray(row[name].chunk(0).flatten())


def _dense_state(state: "pa.Table", at: np.ndarray, col: str) -> np.ndarray:
    """State column with row i placed at index at[i]: residue-class-dense
    order (vid - p) // P, or a hub's position in the sorted hub vids."""
    vals = _pa_np(state[col])
    arr = np.zeros(state.num_rows, dtype=vals.dtype)
    arr[at] = vals
    return arr


# Spark DDL type name -> Arrow type, for the schemas vertex programs declare
_ARROW = {
    "long": pa.int64(), "int": pa.int32(), "double": pa.float64(), "boolean": pa.bool_(),
    "binary": pa.binary(),
}


def _ddl_fields(schema: str) -> list[tuple[str, str]]:
    """``"vid long, rank double"`` -> ``[("vid", "long"), ("rank", "double")]``."""
    return [tuple(f.split()) for f in schema.split(",")]


_MSG = "msg_"  # carried-table prefix of the packed payload columns
_MIRROR = "mirror"  # carried-table column of mirrored hub states


def _carried_ddl(program) -> str:
    """Spark DDL of a program's carried table: ``apply_schema`` (state + stat
    column), then the packed message columns (``dst`` + one list per
    payload; payloads are prefixed because LabelProp's ``label`` message
    shares its name with the state column), then the hub ``mirror``."""
    return ", ".join(
        [program.apply_schema, "dst array<long>"]
        + [f"{_MSG}{n} array<{t}>" for n, t in program.msg_types.items()]
        + [f"{_MIRROR} binary"]
    )


def _carried_schema(program) -> "pa.Schema":
    return pa.schema([
        pa.field(n, pa.list_(_ARROW[t[6:-1]]) if t.startswith("array<") else _ARROW[t])
        for n, t in _ddl_fields(_carried_ddl(program))
    ])


def _addressed(schema: "pa.Schema", P: int, cols: dict) -> "pa.Table":
    """One carried row per destination partition 0..P-1: ``cols`` by name,
    every other column null."""
    cols = {"part_id": pa.array(np.arange(P, dtype=np.int32)), **cols}
    return pa.Table.from_arrays(
        [cols[f.name] if f.name in cols else pa.nulls(P, f.type) for f in schema],
        schema=schema,
    )


def _packed_msgs(
    schema: "pa.Schema", P: int, udst: np.ndarray, payloads: dict[str, np.ndarray]
) -> "pa.Table":
    """Split per-dst partial messages by destination partition and pack each
    slice as ONE Arrow list row of the carried schema (state columns null):
    the shuffle then moves P array rows per block instead of |udst| scalar
    rows — no per-row shuffle CPU, and the destination side reads the
    values buffers back zero-copy."""
    pid = (udst % P).astype(np.int32)
    order = np.argsort(pid, kind="stable")
    offs = pa.array(np.searchsorted(pid[order], np.arange(P + 1)).astype(np.int32))
    cols = {"dst": pa.ListArray.from_arrays(offs, pa.array(udst[order], pa.int64()))}
    for name, vals in payloads.items():
        typ = schema.field(_MSG + name).type.value_type
        cols[_MSG + name] = pa.ListArray.from_arrays(offs, pa.array(vals[order], typ))
    return _addressed(schema, P, cols)


def _mirrors(schema: "pa.Schema", P: int, vids: np.ndarray, state: dict) -> "pa.Table":
    """The states of hub vertices ``vids`` (``state``: column -> values in
    vids order) as ONE Arrow IPC stream, addressed to every partition."""
    sink = pa.BufferOutputStream()
    tbl = pa.table({"vid": vids, **state})
    with pa.ipc.new_stream(sink, tbl.schema) as w:
        w.write_table(tbl)
    return _addressed(schema, P, {_MIRROR: pa.array([sink.getvalue().to_pybytes()] * P, pa.binary())})


def _mirrored_state(mirrors: "pa.Table", hubs: np.ndarray):
    """Source-state accessor over all hub vertices, dense in ``hubs`` order
    (the index of a hub block's ``indptr``), from the mirror rows that each
    hub owner sent, one per owner."""
    tbl = pa.concat_tables(pa.ipc.open_stream(b).read_all() for b in mirrors[_MIRROR].to_pylist())
    return functools.partial(_dense_state, tbl, np.searchsorted(hubs, _pa_np(tbl["vid"])))


def _states(carried: DataFrame) -> DataFrame:
    """The state rows of a carried table (message and mirror rows have a
    null vid)."""
    return carried.where(F.col("vid").isNotNull())


# --------------------------------------------------------------------------
# the shared superstep
# --------------------------------------------------------------------------

def _superstep_udf(
    program, P: int, params: dict | None, hubs: tuple[int, ...], state_dir: str | None = None
):
    """The one Python stage of a superstep: a cogroup UDF over partition p's
    CSR block rows and carried rows.  It scatters the mirrored hub states
    through p's hub block, applies those and the incoming messages to the
    state with the program's ``apply`` kernel, scatters the new state
    through the residue-class block with ``scatter``, and returns the new
    state rows, the packed messages and the mirrors of p's own hubs
    (``hubs``: this side's sorted hub vids) for the next superstep as one
    table of the carried schema.  ``params=None`` is the prologue: the
    carried side is a plain state table, which passes through (stat column
    zero), is scattered and mirrored.  With ``state_dir`` (a checkpointed
    superstep's tmp state dir), partition p also writes its new state rows
    there as its durable part file.  Only the kernels, schemas and plain
    values are closed over, never the program (it may hold DataFrames) or
    the checkpoint manager (it holds the SparkSession)."""
    schema = _carried_schema(program)
    n_state = len(_ddl_fields(program.apply_schema))
    state_fields, msg_fields = list(schema)[:n_state], list(schema)[n_state:-1]
    stat = state_fields[-1]
    kept = [f.name for f in state_fields[:-1] if f.name not in ("vid", "part_id")]
    msg_names = list(program.msg_types)
    state_cols = list(program.state_cols)
    scatter = program.scatter
    apply = None if params is None else functools.partial(program.apply, **params)
    hubs = np.asarray(hubs, dtype=np.int64)

    def step(key, blk: pa.Table, carried: pa.Table) -> pa.Table:
        # the cogrouped applyInArrow takes its eval type as given and never
        # reads these hints; they document the arguments only
        p = key[0].as_py()
        # block rows: the residue-class block and the hub block (each optional)
        rows = {hub: blk.slice(i, 1) for i, hub in enumerate(blk["hub"].to_pylist())}
        msgs = None
        if apply is not None:
            is_state = pc.is_valid(carried["vid"])
            carried, msgs = carried.filter(is_state), carried.filter(pc.invert(is_state))
        nloc = carried.num_rows
        if nloc == 0:
            return schema.empty_table()
        st = functools.partial(_dense_state, carried, (_pa_np(carried["vid"]) - p) // P)
        if apply is None:
            out = {n: st(n) for n in kept}
            out[stat.name] = np.zeros(nloc, stat.type.to_pandas_dtype())
        else:
            # the messages (mirror rows have null lists, which flatten
            # skips), then what p's hub block scatters from the mirrors
            dst = [_pa_flat(msgs, "dst")]
            m = {n: [_pa_flat(msgs, _MSG + n)] for n in msg_names}
            mirrors = msgs.filter(pc.is_valid(msgs[_MIRROR]))
            if True in rows and mirrors.num_rows:
                hub_blk = functools.partial(_block_np, rows[True])
                sent = scatter(hub_blk, _mirrored_state(mirrors, hubs))
                if sent is not None:
                    dst.append(sent[0])
                    for n in m:
                        m[n].append(sent[1][n])
            loc = (np.concatenate(dst) - p) // P
            out = apply(st, nloc, loc, {n: np.concatenate(v) for n, v in m.items()})
        out["vid"] = p + np.arange(nloc, dtype=np.int64) * P
        out["part_id"] = np.full(nloc, p, np.int32)
        no_lists = pa.array(np.zeros(nloc + 1, np.int32))
        tables = [
            pa.Table.from_arrays(
                [pa.array(out[f.name], f.type) for f in state_fields]
                + [pa.ListArray.from_arrays(no_lists, pa.array([], f.type.value_type)) for f in msg_fields]
                + [pa.nulls(nloc, pa.binary())],
                schema=schema,
            )
        ]
        if state_dir is not None:
            write_part(state_dir, p, tables[0].select(state_cols))
        if False in rows:
            sent = scatter(functools.partial(_block_np, rows[False]), out.__getitem__)
            if sent is not None:
                tables.append(_packed_msgs(schema, P, *sent))
        mine = hubs[hubs % P == p]
        if len(mine):
            at = (mine - p) // P
            tables.append(_mirrors(schema, P, mine, {n: out[n][at] for n in kept}))
        return pa.concat_tables(tables)

    return step


class VertexProgram:
    """One vertex-centric superstep shared by every program (see the module
    docstring for the kernel contract).  Subclasses declare ``name``,
    ``state_cols``, ``apply_schema`` (state_cols + one stat column, Spark
    DDL), ``msg_types`` (payload column -> DDL type), ``uses_undirected``
    and the ``scatter``/``apply`` staticmethod kernels."""

    uses_undirected = False

    def step_params(self, ctx: GraphContext, state: DataFrame, carry: dict | None) -> dict:
        """Plain scalars bound into the apply kernel for this superstep;
        ``carry`` is the stats row observed on ``state``."""
        return {}

    def stat_exprs(self):
        return [F.sum("_changed").alias("changes")]

    def done(self, stats: dict) -> bool:
        return stats["changes"] == 0

    def _cogroup(
        self, ctx: GraphContext, carried: DataFrame, params: dict | None, state_dir: str | None = None
    ) -> DataFrame:
        blocks, hubs = (ctx.ublocks, ctx.uhubs) if self.uses_undirected else (ctx.blocks, ctx.hubs)
        return (
            blocks.groupby("part_id")
            .cogroup(carried.groupby("part_id"))
            .applyInArrow(_superstep_udf(self, ctx.P, params, hubs, state_dir), _carried_ddl(self))
        )

    def _prologue(self, ctx: GraphContext, state: DataFrame) -> DataFrame:
        """Carried table of a plain state (lazy): its rows with a zero stat
        column, plus the messages and hub mirrors it scatters."""
        return self._cogroup(ctx, state.repartition(ctx.P, "part_id"), None)

    def _step(
        self, ctx: GraphContext, carried: DataFrame, carry: dict, state_dir: str | None = None
    ) -> DataFrame:
        """Carried table of the next superstep (lazy), from the materialized
        carried table of this one and its observed stats; with ``state_dir``
        its tasks write the new state's part files there."""
        return self._cogroup(ctx, carried, self.step_params(ctx, _states(carried), carry), state_dir)

    def superstep(self, ctx: GraphContext, state: DataFrame, carry: dict | None = None) -> DataFrame:
        """One superstep on a plain state DataFrame: the ``apply_schema``
        rows of state_{t+1} (lazy).  Built from the loop's own parts — the
        prologue is materialized (one job, which also observes ``state``'s
        stats, the default ``carry``), then the fused step is projected to
        its state rows."""
        carried, stats = _materialize(self, ctx, self._prologue(ctx, state), "prologue")
        step = self._step(ctx, carried, stats if carry is None else carry)
        return _states(step).select(*[n for n, _ in _ddl_fields(self.apply_schema)])


def _seeded(ctx: GraphContext, vids: DataFrame, col: str, hit, miss, typ: str) -> DataFrame:
    """Init state vid, part_id, ``col``: ``hit`` on the vertices listed in
    ``vids``, ``miss`` elsewhere (seed sets are vertex-scale, so the
    membership join is a broadcast)."""
    seeds = vids.select("vid").distinct().withColumn("_s", F.lit(True))
    return ctx.vertex_base.join(F.broadcast(seeds), "vid", "left").select(
        "vid", "part_id", F.when(F.col("_s"), F.lit(hit)).otherwise(F.lit(miss)).cast(typ).alias(col)
    )


def _monotone_apply(col: str, msg: str, ufunc, identity):
    """Apply kernel of an idempotent semiring combine (min / max / or): fold
    the messages with ``ufunc`` from ``identity``, then into the old value."""

    def apply(st, nloc, loc, m):
        old = st(col)
        acc = np.full(nloc, identity)
        ufunc.at(acc, loc, m[msg])
        new = ufunc(old, acc)
        return {col: new, "_changed": (new != old).astype(np.int64)}

    return apply


# --------------------------------------------------------------------------
# vertex programs
# --------------------------------------------------------------------------

def _weighted_sum_scatter(blk, st, wcol: str):
    """rank(u) * weight(u, v), summed per block-local destination."""
    udst = blk("udst")
    contrib = np.repeat(st("rank"), np.diff(blk("indptr"))) * blk(wcol)
    return udst, {"msum": np.bincount(blk("e2u"), weights=contrib, minlength=len(udst))}


class PageRankProgram(VertexProgram):
    """Weighted PageRank w/ uniform dangling redistribution (op 48)."""

    name = "pagerank"
    state_cols = ["vid", "part_id", "dangling", "rank"]
    apply_schema = "vid long, part_id int, dangling boolean, rank double, _delta double"
    msg_types = {"msum": "double"}
    scatter = staticmethod(functools.partial(_weighted_sum_scatter, wcol="coeff"))

    def __init__(self, d: float = 0.85, tol: float = 1e-6):
        self.d, self.tol = d, tol

    def init_state(self, ctx: GraphContext) -> DataFrame:
        return ctx.vertex_base.withColumn("rank", F.lit(1.0 / ctx.n_vertices))

    @staticmethod
    def _dangling_mass(carry: dict) -> float:
        # dangling mass of state_{t-1}, read off the stats row observed on
        # the job that produced it (the prologue's for the first superstep
        # after init/resume): no job of its own.  It is an EXACT
        # decimal(38,25) sum (see stat_exprs): a double sum's merge order
        # varies with task completion order, and this scalar feeds back into
        # every rank, so an order-dependent sum would break bit-identical
        # resume.  float() of the exact total is one deterministic rounding.
        return float(carry["dangling_mass"] or 0.0)

    def step_params(self, ctx, state, carry) -> dict:
        return {"d": self.d, "n": ctx.n_vertices, "dmass": self._dangling_mass(carry)}

    @staticmethod
    def apply(st, nloc, loc, m, d, n, dmass):
        rank_old = st("rank")
        msum = np.bincount(loc, weights=m["msum"], minlength=nloc)
        rank_new = (1.0 - d) / n + d * (msum + dmass / n)
        return {"dangling": st("dangling"), "rank": rank_new, "_delta": np.abs(rank_new - rank_old)}

    def stat_exprs(self):
        unit = float(2**60)
        return [
            F.max("_delta").alias("delta"),
            # Integer sums, exact and order-independent, so identical runs
            # write identical stats (a double sum merges its partials in
            # task completion order).  rank_sum, only reported, counts ranks
            # rounded to units of 2^-60 in a long (they sum to 1): a decimal
            # sum of every rank slowed each superstep by about a quarter.
            # dangling_mass feeds the next step (see _dangling_mass()).
            (F.sum(F.rint(F.col("rank") * unit).cast("long")) / unit).alias("rank_sum"),
            F.sum(
                F.when(F.col("dangling"), F.col("rank"))
                .otherwise(F.lit(0.0))
                .cast("decimal(38,25)")
            ).alias("dangling_mass"),
        ]

    def done(self, stats: dict) -> bool:
        return stats["delta"] < self.tol


class PersonalizedPageRankProgram(PageRankProgram):
    """Personalized PageRank: teleport + dangling mass flow to a seed set.

    Update: r_t(v) = (1-d)*s(v) + d*(sum_{u->v} r_{t-1}(u)*w/out_w(u)
    + dangling_mass_{t-1}*s(v)), with s the seed distribution (1/|S| on the
    seed set, 0 elsewhere).  The scatter pass is inherited unchanged from
    PageRankProgram — only the apply-side reset vector differs, carried as a
    per-vertex ``sw`` state column so no extra join or broadcast happens
    inside the superstep loop.  Fixed-iteration runs are hash-checkable
    against graph_oracles.ppr_fixed_sql (same unrolled-CTE trick as
    PageRank)."""

    name = "ppr"
    state_cols = ["vid", "part_id", "dangling", "rank", "sw"]
    apply_schema = (
        "vid long, part_id int, dangling boolean, rank double, sw double, _delta double"
    )

    def __init__(self, seed_vids: DataFrame, d: float = 0.85, tol: float = 1e-6):
        """``seed_vids``: one-column (vid) DataFrame of teleport targets —
        kept as a DataFrame (not a collected list) so huge seed sets (e.g.
        "all actors") never funnel through the driver."""
        super().__init__(d=d, tol=tol)
        self.seed_vids = seed_vids

    def init_state(self, ctx: GraphContext) -> DataFrame:
        seeds = self.seed_vids.select("vid").distinct()
        n_seeds = seeds.count()
        if n_seeds == 0:
            raise ValueError("personalized PageRank needs a non-empty seed set")
        # seed sets are vertex-scale (<< edges); broadcast the membership join
        return (
            ctx.vertex_base.join(
                F.broadcast(seeds.withColumn("_s", F.lit(True))), "vid", "left"
            )
            .withColumn(
                "sw",
                F.when(F.col("_s"), F.lit(1.0 / n_seeds)).otherwise(F.lit(0.0)),
            )
            .withColumn("rank", F.col("sw"))
            .select(*self.state_cols)
        )

    def step_params(self, ctx, state, carry) -> dict:
        return {"d": self.d, "dmass": self._dangling_mass(carry)}

    @staticmethod
    def apply(st, nloc, loc, m, d, dmass):
        rank_old, sw = st("rank"), st("sw")
        msum = np.bincount(loc, weights=m["msum"], minlength=nloc)
        rank_new = (1.0 - d) * sw + d * (msum + dmass * sw)
        return {
            "dangling": st("dangling"), "rank": rank_new, "sw": sw,
            "_delta": np.abs(rank_new - rank_old),
        }


class ComponentsProgram(VertexProgram):
    """Connected components via hash-min label propagation (op 49)."""

    name = "components"
    state_cols = ["vid", "part_id", "comp"]
    apply_schema = "vid long, part_id int, comp long, _changed long"
    msg_types = {"mmin": "long"}
    uses_undirected = True

    def init_state(self, ctx: GraphContext) -> DataFrame:
        return ctx.vertex_base.select("vid", "part_id", F.col("vid").alias("comp"))

    @staticmethod
    def scatter(blk, st):
        udst = blk("udst")
        partial = np.full(len(udst), np.iinfo(np.int64).max, dtype=np.int64)
        np.minimum.at(partial, blk("e2u"), np.repeat(st("comp"), np.diff(blk("indptr"))))
        return udst, {"mmin": partial}

    apply = staticmethod(_monotone_apply("comp", "mmin", np.minimum, np.iinfo(np.int64).max))


BFS_INF = np.int64(1) << 62  # "unreached"; +1 cannot overflow int64


class KatzProgram(PageRankProgram):
    """Katz centrality via the truncated power series
    x_{t+1}(v) = beta + alpha * Σ_{u→v} w(u,v)·x_t(u).

    Same packed-Arrow single-shuffle scatter as PageRank but on the RAW
    edge weights (no out-degree normalization), no dangling redistribution,
    and an additive beta source — so the engine's message plumbing is
    exercised with a second combine semantics.  alpha must satisfy
    alpha < 1/λ_max(W) for the series to converge; fixed-iteration runs
    hash-check against graph_oracles.katz_fixed_sql (values are O(beta·
    (alpha·w_deg)^k) — rounded to 6 dp on both engines, ~8 orders above
    double summation-order noise at gate scale)."""

    name = "katz"
    # RAW w, not coeff
    scatter = staticmethod(functools.partial(_weighted_sum_scatter, wcol="weights"))

    def __init__(self, alpha: float = 0.01, beta: float = 1.0, tol: float = 1e-6):
        self.alpha, self.beta, self.tol = alpha, beta, tol

    def init_state(self, ctx: GraphContext) -> DataFrame:
        return ctx.vertex_base.withColumn("rank", F.lit(self.beta))

    def step_params(self, ctx, state, carry) -> dict:
        return {"alpha": self.alpha, "beta": self.beta}

    @staticmethod
    def apply(st, nloc, loc, m, alpha, beta):
        rank_old = st("rank")
        rank_new = beta + alpha * np.bincount(loc, weights=m["msum"], minlength=nloc)
        return {"dangling": st("dangling"), "rank": rank_new, "_delta": np.abs(rank_new - rank_old)}

    def stat_exprs(self):
        return [F.max("_delta").alias("delta"), F.sum("rank").alias("rank_sum")]


class EigenvectorProgram(KatzProgram):
    """Eigenvector centrality via truncated power iteration
    x_{t+1}(v) = Σ_{u→v} w(u,v)·x_t(u), x_0 = 1.

    Exactly KatzProgram with alpha=1 / beta=0 (the pure in-edge weighted
    sum — same packed-Arrow scatter on the RAW weights) started from the
    all-ones vector.  The iterate is scale-invariant up to normalization,
    so callers L1-normalize ONCE at the end (a single global agg) instead
    of per superstep — at web scale that removes k-1 global barriers; for
    very large k renormalize periodically off the observed rank_sum stat
    to keep doubles in range (unnecessary at fixed gate-scale k)."""

    name = "eigenvector"

    def __init__(self, tol: float = 0.0):
        super().__init__(alpha=1.0, beta=0.0, tol=tol)

    def init_state(self, ctx: GraphContext) -> DataFrame:
        return ctx.vertex_base.withColumn("rank", F.lit(1.0))


class BFSProgram(VertexProgram):
    """Multi-source BFS hop distance over the undirected simple graph.

    Min-plus propagation on the same CSR blocks as ComponentsProgram:
    dist_t(v) = min(dist_{t-1}(v), 1 + min_{u~v} dist_{t-1}(u)); unreached
    vertices carry BFS_INF.  Frontier-sparse: a block only emits messages
    for destinations whose incoming minimum is finite, so message volume
    tracks the active frontier, not nnz.  Converges in eccentricity(S)
    supersteps; fixed-iteration runs hash-check against the unrolled-CTE
    oracle (graph_oracles.bfs_fixed_sql)."""

    name = "bfs"
    state_cols = ["vid", "part_id", "dist"]
    apply_schema = "vid long, part_id int, dist long, _changed long"
    msg_types = {"mmin": "long"}
    uses_undirected = True

    def __init__(self, source_vids: DataFrame):
        """``source_vids``: one-column (vid) DataFrame of BFS sources."""
        self.source_vids = source_vids

    def init_state(self, ctx: GraphContext) -> DataFrame:
        return _seeded(ctx, self.source_vids, "dist", 0, int(BFS_INF), "long")

    @staticmethod
    def scatter(blk, st):
        udst = blk("udst")
        partial = np.full(len(udst), BFS_INF, dtype=np.int64)
        np.minimum.at(partial, blk("e2u"), np.repeat(st("dist"), np.diff(blk("indptr"))))
        frontier = partial < BFS_INF  # only reached sources message out
        if not frontier.any():
            return None
        return udst[frontier], {"mmin": partial[frontier] + 1}

    apply = staticmethod(_monotone_apply("dist", "mmin", np.minimum, BFS_INF))

    def stat_exprs(self):
        return [
            F.sum("_changed").alias("changes"),
            F.sum((F.col("dist") < F.lit(int(BFS_INF))).cast("long")).alias("reached"),
        ]


class BipartiteProgram(VertexProgram):
    """Two-colorability (odd-cycle) check over the undirected simple graph.

    Propagates a 2-bit parity-reachability mask from each component root
    (bit 0: some even-length walk from the root reaches v; bit 1: odd).
    The per-edge message is the sender's mask with the two bits swapped
    (one more hop flips every walk's parity) and the aggregation is
    bitwise OR — idempotent and monotone, so the fixed point is reached in
    at most 2·ecc(root)+1 supersteps and duplicate/hub-path message rows
    are harmless.  A vertex with mask == 3 lies on closed walks of both
    parities through its root, i.e. its component contains an odd cycle
    (standard BFS 2-coloring argument); a component is bipartite iff no
    vertex reaches mask 3.  Self-loops are out of scope by construction:
    like every undirected engine op, this runs on csr.symmetrize's simple
    view.  Frontier-sparse like BFSProgram — only vertices with a nonzero
    mask message out, so message volume tracks the reached set."""

    name = "bipartite"
    state_cols = ["vid", "part_id", "mask"]
    apply_schema = "vid long, part_id int, mask long, _changed long"
    msg_types = {"mor": "long"}
    uses_undirected = True

    def __init__(self, root_vids: DataFrame):
        """``root_vids``: one-column (vid) DataFrame of component roots
        (even-parity seeds), e.g. ComponentsProgram fixed-point roots."""
        self.root_vids = root_vids

    def init_state(self, ctx: GraphContext) -> DataFrame:
        return _seeded(ctx, self.root_vids, "mask", 1, 0, "long")

    @staticmethod
    def scatter(blk, st):
        mask = st("mask")
        flip = ((mask & 1) << 1) | ((mask >> 1) & 1)
        udst = blk("udst")
        partial = np.zeros(len(udst), dtype=np.int64)
        np.bitwise_or.at(partial, blk("e2u"), np.repeat(flip, np.diff(blk("indptr"))))
        frontier = partial > 0  # only reached senders contribute
        if not frontier.any():
            return None
        return udst[frontier], {"mor": partial[frontier]}

    apply = staticmethod(_monotone_apply("mask", "mor", np.bitwise_or, 0))

    def stat_exprs(self):
        return [
            F.sum("_changed").alias("changes"),
            F.sum((F.col("mask") == 3).cast("long")).alias("conflicts"),
        ]


class SSSPProgram(VertexProgram):
    """Single-source shortest paths over the DIRECTED weighted graph —
    Bellman-Ford relaxation as gather-scatter supersteps.

    dist_t(v) = min(dist_{t-1}(v), min_{u->v} dist_{t-1}(u) + w(u, v)) on
    the same CSR blocks as PageRank (the packed ``weights`` array is the
    relaxation cost; unreached = +inf).  Frontier-sparse like BFSProgram.
    Cross-engine determinism note: each candidate path cost is the same
    chain of IEEE adds on both the engine and the unrolled-CTE oracle
    (one add per relaxation of bitwise-identical operands), and min() of
    identical sets is bitwise identical — so fixed-iteration runs
    hash-check exactly (graph_oracles.sssp_fixed_sql; rounding is belt and
    braces only)."""

    name = "sssp"
    state_cols = ["vid", "part_id", "dist"]
    apply_schema = "vid long, part_id int, dist double, _changed long"
    msg_types = {"mmin": "double"}

    def __init__(self, source_vids: DataFrame):
        self.source_vids = source_vids

    def init_state(self, ctx: GraphContext) -> DataFrame:
        return _seeded(ctx, self.source_vids, "dist", 0.0, float("inf"), "double")

    @staticmethod
    def scatter(blk, st):
        udst = blk("udst")
        relax = np.repeat(st("dist"), np.diff(blk("indptr"))) + blk("weights")
        partial = np.full(len(udst), np.inf)
        np.minimum.at(partial, blk("e2u"), relax)
        frontier = np.isfinite(partial)
        if not frontier.any():
            return None
        return udst[frontier], {"mmin": partial[frontier]}

    apply = staticmethod(_monotone_apply("dist", "mmin", np.minimum, np.inf))

    def stat_exprs(self):
        return [
            F.sum("_changed").alias("changes"),
            F.sum((F.col("dist") != F.lit(float("inf"))).cast("long")).alias("reached"),
        ]


class WidestPathProgram(VertexProgram):
    """Single-source widest paths (max-bottleneck capacity) over the
    DIRECTED weighted graph — the max-min semiring sibling of SSSPProgram
    (min-plus): cap_t(v) = max(cap_{t-1}(v), max_{u->v} min(cap_{t-1}(u),
    w(u, v))); cap(source) = +inf, unreached = -inf.  The routing capacity
    / max-flow-along-one-path primitive, and the proof that the superstep
    engine is semiring-parameterized rather than shortest-path-specific.

    Same CSR blocks, same packed-Arrow shuffle, same frontier filter as
    SSSP.  Cross-engine determinism is STRONGER than SSSP's: min/max never
    create new floats, so every capacity is one of the original edge
    weights (an integer multiplicity) — the fixed-iteration oracle
    (graph_oracles.widest_fixed_sql) matches bit-for-bit."""

    name = "widest"
    state_cols = ["vid", "part_id", "cap"]
    apply_schema = "vid long, part_id int, cap double, _changed long"
    msg_types = {"mmax": "double"}

    def __init__(self, source_vids: DataFrame):
        self.source_vids = source_vids

    def init_state(self, ctx: GraphContext) -> DataFrame:
        return _seeded(ctx, self.source_vids, "cap", float("inf"), float("-inf"), "double")

    @staticmethod
    def scatter(blk, st):
        udst = blk("udst")
        relax = np.minimum(np.repeat(st("cap"), np.diff(blk("indptr"))), blk("weights"))
        partial = np.full(len(udst), -np.inf)
        np.maximum.at(partial, blk("e2u"), relax)
        frontier = partial > -np.inf
        if not frontier.any():
            return None
        return udst[frontier], {"mmax": partial[frontier]}

    apply = staticmethod(_monotone_apply("cap", "mmax", np.maximum, -np.inf))

    def stat_exprs(self):
        return [
            F.sum("_changed").alias("changes"),
            F.sum((F.col("cap") != F.lit(float("-inf"))).cast("long")).alias("reached"),
        ]


LT_NEVER = np.int64(1) << 62  # threshold sentinel: vertex can never activate


class LTCascadeProgram(VertexProgram):
    """Deterministic linear-threshold influence cascade over the UNDIRECTED
    simple graph (Kempe-Kleinberg-Tardos LT model with fixed integer
    thresholds instead of random ones).

    State per vertex: activation round ``rnd`` (BFS_INF while inactive),
    cumulative count of activated neighbors ``infl`` (exact int64 — the
    undirected simple view is unit-weight), local superstep counter
    ``step``, and threshold ``theta``.  A vertex activates at the first
    superstep where its count of ACTIVE neighbors reaches theta;
    activation is monotone, so the scatter is frontier-sparse in the
    strongest sense: only vertices activated in the PREVIOUS superstep
    (``rnd == step``) message out, hence every edge is scattered AT MOST
    ONCE over the whole run — total message volume is O(E reached), not
    O(E * supersteps).  That is the 100-TB shape: cascade cost tracks the
    influenced subgraph, never the iteration count.

    Fixed-iteration runs hash-check against the unrolled-CTE DuckDB oracle
    (graph_oracles.ltcascade_fixed_sql); all arithmetic is int64, so the
    comparison is exact with no rounding grain."""

    name = "ltcascade"
    state_cols = ["vid", "part_id", "rnd", "infl", "step", "theta"]
    apply_schema = (
        "vid long, part_id int, rnd long, infl long, step long, theta long, _changed long"
    )
    msg_types = {"msum": "long"}
    uses_undirected = True

    def __init__(self, seed_vids: DataFrame, thresholds: DataFrame):
        """``seed_vids``: (vid) rows active at round 0.  ``thresholds``:
        (vid, theta) int64 rows; vertices absent from it get LT_NEVER."""
        self.seed_vids = seed_vids
        self.thresholds = thresholds

    def init_state(self, ctx: GraphContext) -> DataFrame:
        srcs = self.seed_vids.select("vid").distinct().withColumn("_s", F.lit(True))
        th = self.thresholds.select("vid", F.col("theta").cast("long").alias("_th"))
        return (
            ctx.vertex_base.join(F.broadcast(srcs), "vid", "left")
            .join(F.broadcast(th), "vid", "left")
            .select(
                "vid",
                "part_id",
                F.when(F.col("_s"), F.lit(0))
                .otherwise(F.lit(int(BFS_INF)))
                .cast("long")
                .alias("rnd"),
                F.lit(0).cast("long").alias("infl"),
                F.lit(0).cast("long").alias("step"),
                F.coalesce(F.col("_th"), F.lit(int(LT_NEVER)))
                .cast("long")
                .alias("theta"),
            )
        )

    @staticmethod
    def scatter(blk, st):
        # frontier = activated exactly last superstep; their edges fire
        # once and never again
        src_fresh = np.repeat(st("rnd") == st("step"), np.diff(blk("indptr")))
        if not src_fresh.any():
            return None
        # unit weights on the undirected simple view: the partial is a
        # fresh-neighbor count per destination
        udst = blk("udst")
        partial = np.zeros(len(udst), dtype=np.int64)
        np.add.at(partial, blk("e2u")[src_fresh], np.int64(1))
        touched = partial > 0
        return udst[touched], {"msum": partial[touched]}

    @staticmethod
    def apply(st, nloc, loc, m):
        rnd_old, theta = st("rnd"), st("theta")
        msum = np.zeros(nloc, dtype=np.int64)
        np.add.at(msum, loc, m["msum"])
        step_new = st("step") + 1
        infl_new = st("infl") + msum
        newly = (rnd_old == BFS_INF) & (infl_new >= theta)
        return {
            "rnd": np.where(newly, step_new, rnd_old), "infl": infl_new,
            "step": step_new, "theta": theta, "_changed": newly.astype(np.int64),
        }

    def stat_exprs(self):
        return [
            F.sum("_changed").alias("changes"),
            F.sum((F.col("rnd") < F.lit(int(BFS_INF))).cast("long")).alias("active"),
        ]


class LabelPropProgram(VertexProgram):
    """Synchronous community label propagation, min-label tiebreak (op 50).

    Matches ref_single_node.lpa_ref exactly: new label = most frequent
    neighbor label over the undirected simple graph; ties -> min label;
    isolated vertices keep their label."""

    name = "labelprop"
    state_cols = ["vid", "part_id", "label"]
    apply_schema = "vid long, part_id int, label long, _changed long"
    msg_types = {"label": "long", "cnt": "long"}
    uses_undirected = True

    def init_state(self, ctx: GraphContext) -> DataFrame:
        return ctx.vertex_base.select("vid", "part_id", F.col("vid").alias("label"))

    @staticmethod
    def scatter(blk, st):
        e2u = blk("e2u")
        lab_rep = np.repeat(st("label"), np.diff(blk("indptr")))
        # run-length count of (udst_idx, label) pairs
        order = np.lexsort((lab_rep, e2u))
        ui, ll = e2u[order], lab_rep[order]
        if len(ui) == 0:
            return None
        boundary = np.ones(len(ui), dtype=bool)
        boundary[1:] = (ui[1:] != ui[:-1]) | (ll[1:] != ll[:-1])
        idx = np.flatnonzero(boundary)
        cnt = np.diff(np.append(idx, len(ui)))
        # message key is (dst, label); _packed_msgs splits on dst % P,
        # which groups by destination partition exactly as required
        return blk("udst")[ui[boundary]], {"label": ll[boundary], "cnt": cnt}

    @staticmethod
    def apply(st, nloc, loc, m):
        label_old = st("label")
        label_new = label_old.copy()
        # 1) sum partial counts per (vertex, label) — partials arrive from
        #    multiple source blocks
        order = np.lexsort((m["label"], loc))
        ml, ll, cc = loc[order], m["label"][order], m["cnt"][order]
        boundary = np.ones(len(ml), dtype=bool)
        boundary[1:] = (ml[1:] != ml[:-1]) | (ll[1:] != ll[:-1])
        gidx = np.cumsum(boundary) - 1
        sums = np.bincount(gidx, weights=cc)
        gml, gll = ml[boundary], ll[boundary]
        # 2) argmax per vertex: most frequent label, ties -> min label
        #    (groups are label-sorted per vertex, so a stable sort on -count
        #    keeps min-label first among ties)
        order2 = np.lexsort((gll, -sums, gml))
        gm2 = gml[order2]
        first = np.ones(len(gm2), dtype=bool)
        first[1:] = gm2[1:] != gm2[:-1]
        label_new[gm2[first]] = gll[order2][first]
        return {"label": label_new, "_changed": (label_new != label_old).astype(np.int64)}


# --------------------------------------------------------------------------
# runner
# --------------------------------------------------------------------------

@dataclass
class RunResult:
    state: DataFrame
    supersteps: int
    converged: bool
    stats_history: list[dict[str, Any]] = field(default_factory=list)
    resumed_from: int = 0


_OBS_COUNTER = itertools.count()


def _next_obs_id() -> int:
    """Session-unique suffix for Observation names (a resumed run can revisit
    the same (program, superstep) pair within one SparkSession)."""
    return next(_OBS_COUNTER)


def _strip_origin_stats(df: DataFrame) -> None:
    """Reset a localCheckpoint LogicalRDD's captured origin stats/constraints.

    ``Dataset.localCheckpoint`` truncates the plan to a LogicalRDD leaf but
    copies the origin plan's *estimated* Statistics into it.  The cogroup
    size estimator multiplies children sizeInBytes, so chaining supersteps
    compounds those estimates (S_t = B * S_{t-1}^2): bit-length roughly
    triples per superstep and Catalyst dies around step 16 in million-bit
    BigInteger multiplies.  Nulling originStats makes computeStats fall back
    to the constant defaultSizeInBytes leaf default — bounded within each
    superstep, never compounding across them.  originConstraints is nulled
    for the same reason (origin expression sets would otherwise chain).

    Uses JVM reflection on pinned Spark (pyspark 4.1.2); fails loudly if the
    field layout ever changes rather than letting the engine melt at step 16.
    """
    jdf = df._jdf  # noqa: SLF001 — classic-mode internal, pinned version
    jplan = jdf.queryExecution().analyzed()
    cls = jplan.getClass()
    if not cls.getName().endswith("LogicalRDD"):
        raise RuntimeError(f"expected LogicalRDD leaf after localCheckpoint, got {cls.getName()}")
    spark = df.sparkSession
    none = spark._jvm.scala.Option.empty()  # noqa: SLF001
    for fname in ("originStats", "originConstraints"):
        try:
            fld = cls.getDeclaredField(fname)
        except Exception as e:  # pragma: no cover — version drift tripwire
            raise RuntimeError(
                f"LogicalRDD.{fname} not found (Spark internals changed?) — "
                "superstep stats would compound to BigInteger overflow"
            ) from e
        fld.setAccessible(True)
        fld.set(jplan, none)


def _materialize(program, ctx: GraphContext, carried: DataFrame, tag, *lineage) -> tuple[DataFrame, dict]:
    """Run a carried table: observe the program's stats on it, route its
    message rows to their destination partition with ONE Exchange (state
    rows stay put; the repartition also re-pins HashPartitioning(part_id),
    which the cogroup output does not report, so the next cogroup reads it
    with no exchange), and materialize it with an eager localCheckpoint in
    the same job, keeping the plan one superstep deep (op 54).

    ONE Spark job per superstep: the convergence aggregates ride the
    materialization job via CollectMetrics (observe) instead of a separate
    groupBy+collect job.  Message rows are all-null in the state columns,
    so they contribute nothing to any ``stat_exprs`` sum or max.  The
    ``lineage`` aggregates of a checkpointed superstep ride the same
    observation."""
    obs = Observation(f"{program.name}-{tag}-{_next_obs_id()}")
    ns = (
        carried.observe(obs, *program.stat_exprs(), *lineage)
        .repartition(ctx.P, "part_id")
        .localCheckpoint(eager=True)
    )
    # LogicalRDD from localCheckpoint captures the ORIGIN plan's estimated
    # statistics/constraints, and the cogroup stats visitor is a product
    # over children sizeInBytes — left in place, each superstep's carried
    # table inherits the product of the previous one (bit-length triples per
    # superstep; by ~step 16 Catalyst spins on million-bit BigInteger
    # multiplies and then throws "BigInteger would overflow supported
    # range").  Stripping originStats resets every superstep to the
    # constant leaf default, so within-superstep plan stats stay bounded and
    # never compound across supersteps.
    _strip_origin_stats(ns)
    # decimal aggregates (exact, order-independent — e.g. PageRank's
    # dangling_mass) come back as Decimal: one deterministic float() here
    # keeps carry math and metrics JSON plain-float.
    stats = {
        name: float(v) if isinstance(v, decimal.Decimal) else v
        for name, v in obs.get.items()
    }
    return ns, stats


def run_program(
    ctx: GraphContext,
    program,
    max_iter: int = 100,
    ckpt_root: str | None = None,
    resume: bool = True,
    init_state: DataFrame | None = None,
    fixed_iters: int | None = None,
) -> RunResult:
    """Drive a vertex program to convergence (SURVEY.md §2.10 skeleton).

    ``fixed_iters=k`` runs EXACTLY k supersteps, ignoring the program's
    convergence test — the fixed-iteration form is SQL-expressible (unrolled
    CTEs), which is what makes the iterative engine paths hash-checkable
    against the DuckDB oracle (VERDICT r01 item 1).

    With ``ckpt_root`` (a local path; a URI raises ``ValueError``): every
    superstep is durably checkpointed with lineage + metrics; a killed run
    re-invoked with the same root resumes from the latest complete superstep
    (op 53).  The superstep's own tasks write the state's part files and its
    observation carries the lineage, so the checkpoint adds no Spark job; the
    driver prepares the step's tmp dir before the job and seals it (manifest,
    rename, metrics line) after, synchronously.  Either way the eager
    localCheckpoint of each carried table truncates the plan.

    The run starts with the prologue (see the module docstring) on the init
    state, or on the checkpointed state when resuming; each superstep is
    then one job: one cogroup + one Exchange + localCheckpoint.  Spark jobs
    are tagged ``pregel.<name>:t=<n>`` (prologue: the starting step); the
    caller's job description is restored.

    AQE is disabled for the duration of the loop: superstep plans are fully
    pinned (explicit P-way partitioning, fixed shapes), so adaptive re-
    planning only adds per-job latency — measured ~0.3-1s per superstep —
    and its partition coalescing can silently undo the co-partitioning
    (SURVEY.md §7 trap 4).  Restored afterwards for the relational glue.
    """
    with aqe_off(ctx.spark), job_description(ctx.spark.sparkContext) as describe:
        ckpt = None
        if ckpt_root is not None:
            ckpt = CheckpointManager(
                ctx.spark, ckpt_root, program.name, ctx.fingerprint, ctx.P,
                ctx.n_vertices, list(program.state_cols),
            )

        t0 = 0
        state = None
        if ckpt is not None and resume:
            # With fixed_iters, a stale chain from a LONGER run with the same
            # fingerprint may hold steps beyond k; resuming past k would skip
            # the loop and return over-iterated state as the "exactly k"
            # result, so resume points are capped at fixed_iters (t0 == k is
            # fine: the checkpointed state IS the k-step answer).
            latest = ckpt.latest_complete(max_t=fixed_iters)
            if latest is not None:
                t0 = latest[0]
                state = ckpt.read_state(t0)

        describe(f"pregel.{program.name}:t={t0}")
        if state is None:
            state = init_state if init_state is not None else program.init_state(ctx)
        # The prologue's stats are state_t0's (its stat column is zero): the
        # carry of the first superstep, e.g. PageRank's first dangling mass.
        carried, carry = _materialize(program, ctx, program._prologue(ctx, state), f"t{t0}")

        nnz = ctx.nnz_undirected if program.uses_undirected else ctx.nnz_directed + ctx.nnz_hub
        history: list[dict[str, Any]] = []
        converged = False
        t = t0
        lineage = () if ckpt is None else lineage_exprs(ckpt.state_cols)
        last_iter = fixed_iters if fixed_iters is not None else max_iter
        for t in range(t0 + 1, last_iter + 1):
            tic = time.monotonic()
            describe(f"pregel.{program.name}:t={t}")
            state_dir = None if ckpt is None else ckpt.begin(t)
            carried, stats = _materialize(
                program, ctx, program._step(ctx, carried, carry, state_dir), f"t{t}", *lineage
            )
            stats["edges_scattered"] = nnz
            if ckpt is not None:
                rows, checksum = (stats.pop(k) for k in LINEAGE)
                ckpt.commit(t, rows, checksum, dict(stats))
            stats["wall_s"] = time.monotonic() - tic
            stats["superstep"] = t
            history.append(stats)
            carry = stats
            if fixed_iters is None and program.done(stats):
                converged = True
                break
    state = _states(carried).select(*program.state_cols)
    return RunResult(state, t, converged, history, resumed_from=t0)
