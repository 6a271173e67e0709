"""Pregel-style superstep runner over CSR blocks (SURVEY.md §2.10).

Execution model per superstep (all per-edge work is vectorized numpy inside
Arrow-batched cogrouped pandas UDFs — zero per-row Python):

    scatter : cogroup(blocks, state) on part_id -> block-local numpy
              gather + per-udst pre-aggregation (np.bincount / minimum.at);
              emits (part_id-of-dst, dst, payload) partial messages
    combine+apply : ONE shuffle — messages exchange to their destination
              partition, then cogroup(msgs, state) on part_id finalizes the
              aggregation AND the state update in a single numpy pass
              (dense residue-class indexing, no join)
    stats   : global aggregates observed on the state-materialization job
              (convergence / change count; no extra job)
    persist : checkpoint write + read-back (durable, truncates lineage) or
              localCheckpoint (ephemeral) — either way the plan for t+1 is
              one superstep deep (op 54)

One skeleton, ``VertexProgram.superstep``, runs that shape for every program
(the two cogroups, empty partitions, dense state reads, output assembly and
the hub-split messages).  A program declares ``state_cols``/``init_state``,
``apply_schema`` (state + one stat column), ``msg_types``, ``uses_undirected``
and two numpy kernels, both staticmethods closing over plain scalars only:

    scatter(blk, st) -> (udst, {payload: array}) | None
        blk(name): CSR block column; st(col): source state, dense by (vid-p)//P
    apply(st, nloc, loc, m, **step_params) -> {column: array}
        loc/m[payload]: flat incoming messages (typed empties if none)

Hub edges (op 47) are messaged by ``hub_payload()`` Column expressions:
off the static pack for dense programs, or, when ``hub_frontier()``
returns a predicate, through a broadcast join of the active hub senders.

Per superstep the ONLY full-width exchange is the message shuffle; the old
form's groupBy(dst) exchange + state equi-join (two more shuffles of |V|..
|msgs| rows and a window for LPA) are fused into the destination-side
cogroup.  The scatter shuffle carries at most |udst| rows per block (unique
dsts), not nnz — the block-local bincount is the map-side combine.  Skewed
hub dsts are therefore bounded by P partial rows each; the explicit salted
two-phase aggregation for raw message streams lives in skew.py and is used
by the naive (non-CSR) paths.
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
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .checkpoint import CheckpointManager, input_fingerprint
from .csr import build_csr_blocks, symmetrize
from .derive import GraphTables
from .skew import split_hub_edges


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


@dataclass
class GraphContext:
    """Built once per graph; blocks cached across supersteps."""

    spark: SparkSession
    P: int
    n_vertices: int
    vertex_base: DataFrame          # vid, part_id, dangling (cached)
    blocks: DataFrame               # directed CSR (cached)
    ublocks: DataFrame              # symmetrized undirected CSR (cached)
    nnz_directed: int
    nnz_undirected: int             # TOTAL undirected nnz (blocks + hub)
    fingerprint: str
    hub_edges: DataFrame | None = None   # src, dst, coeff (op 47 hub split)
    hub_vids: DataFrame | None = None    # vid (broadcast into hub scatter)
    nnz_hub: int = 0
    uhub_edges: DataFrame | None = None  # undirected hub adjacency (src, dst)
    uhub_vids: DataFrame | None = None   # undirected hub vids
    nnz_uhub: int = 0
    # Pre-packed hub adjacency, one array row per destination partition
    # (part_id, dst[], src[], coeff[], w[] / part_id, dst[], src[]): built
    # ONCE at context build, so dense programs (PageRank/Katz/CC/LPA) never
    # re-shuffle the hub edge set inside the superstep loop — per superstep
    # they broadcast only a vid->state map over the (tiny) hub vertex set
    # and evaluate it against the static pack with JVM zip_with/transform
    # (guide §2.3 "shuffle keys and metadata instead of payloads").
    # Frontier-sparse programs (BFS/SSSP/Widest/LT/Bipartite) keep the
    # filtered broadcast-join path on hub_edges/uhub_edges.
    hub_pack: DataFrame | None = None
    uhub_pack: DataFrame | None = None
    _cached_inputs: tuple = ()

    @staticmethod
    def build(
        graph: GraphTables,
        P: int,
        hub_theta: int | None = None,
        hub_floor: int = 65536,
    ) -> "GraphContext":
        """hub_theta: degree above which a vertex's adjacency is pulled out
        of the CSR blocks and scattered via broadcast-join (skew.py) —
        applied to BOTH the directed blocks (out-degree, PageRank) and the
        symmetrized blocks (undirected degree, CC/LPA): mod partitioning
        puts a vertex's whole adjacency row in one block, so an unsplit hub
        would serialize one partition of every scatter (VERDICT r01 item 4).

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

        The directed side, undirected side, vertex base, and fingerprint are
        independent job chains off ONE shared pre-summed edge scan; they are
        materialized from concurrent driver threads (Spark schedules jobs
        from separate threads in parallel), which overlaps their fixed
        per-job latencies (VERDICT r01 item 5).

        AQE is DISABLED for the MATERIALIZATION phase of the build (the
        four threads that checkpoint blocks/ublocks/base): ``localCheckpoint``
        under AQE wraps the plan in AdaptiveSparkPlanExec, whose output
        partitioning is opaque at checkpoint time, so the captured
        LogicalRDD reports UnknownPartitioning — and every superstep then
        re-Exchanges the full CSR block table and the vertex state through
        EnsureRequirements (measured: 5 Exchanges per superstep instead of
        2).  With AQE off at checkpoint time, the leaf keeps
        hashpartitioning(part_id, P) and the per-superstep cogroups consume
        blocks/state with no exchange at all (guide §2.4).  The pre-phase
        (vertex count + shared esum/degree scan — the jobs that actually
        execute the graph derivation and fill the persist caches) keeps AQE
        ON: measured ~20-30%% faster with adaptive coalescing/broadcasts,
        and nothing it materializes is consumed by the superstep loop."""
        spark = graph.edges.sparkSession
        # cache the derivation once: vertices/edges plans are embedded in
        # every downstream table (degrees, blocks, fingerprint).  persist()
        # is lazy — the caches FILL as a side effect of the two jobs below
        # (vertex count; esum scan over edges), so no extra materialization
        # job is spent on either.
        graph.vertices.persist()
        graph.edges.persist()
        # Two independent jobs launched from concurrent threads: the vertex
        # count (needed to size the dense CSR index space) and ONE
        # pre-summed simple edge scan shared by the directed build, the hub
        # splits, the symmetrized build, and the fingerprint (previously
        # each ran its own groupBy(src, dst) pass over the raw edge table).
        pre: dict[str, Any] = {}

        def _count_vertices() -> None:
            pre["n"] = graph.vertices.count()

        def _esum() -> None:
            esum = (
                graph.edges.groupBy("src", "dst")
                .agg(F.sum("w").alias("w"))
                .localCheckpoint()
            )
            pre["esum"] = esum
            # Per-src degree/weight off the materialized esum — ONE tiny
            # (V_src rows) table shared by the hub split, the dangling base,
            # and every nnz/max-degree statistic below; previously the
            # build_degrees plan (2 groupBys + 2 joins over the raw edge
            # cache) re-ran in both the split and the base thread.  out_deg
            # here counts distinct dsts, i.e. the CSR row LENGTH — the
            # quantity hub splitting actually guards.
            dirdeg = (
                esum.groupBy("src")
                .agg(F.count(F.lit(1)).alias("out_deg"), F.sum("w").alias("out_w"))
                .withColumnRenamed("src", "vid")
                .localCheckpoint()
            )
            pre["dirdeg"] = dirdeg

            # The directed degree stats and the symmetrized view + its
            # degree stats are independent chains off the esum leaf — run
            # them concurrently, still inside the AQE-on pre-phase (the
            # undirected degree aggregate measured ~2x slower with AQE off;
            # neither table needs pinned partitioning, so nothing forces
            # them into the AQE-off materialization phase).
            def _ddeg_stats() -> None:
                row = dirdeg.agg(
                    F.max("out_deg").alias("mx"), F.sum("out_deg").alias("nnz")
                ).collect()[0]
                pre["max_out"] = int(row["mx"] or 0)
                pre["nnz_total"] = int(row["nnz"] or 0)

            def _sym_stats() -> None:
                if hub_theta is None:
                    return
                sym = symmetrize(esum).localCheckpoint()
                pre["sym"] = sym
                udeg = (
                    sym.groupBy("src")
                    .agg(F.count(F.lit(1)).alias("out_deg"), F.sum("w").alias("out_w"))
                    .withColumnRenamed("src", "vid")
                )
                urow = udeg.agg(
                    F.max("out_deg").alias("mx"), F.sum("out_deg").alias("nnz")
                ).collect()[0]
                pre["umax"] = int(urow["mx"] or 0)
                pre["unnz"] = int(urow["nnz"] or 0)
                pre["udeg"] = udeg

            subs = [
                threading.Thread(target=_pre_guard(fn), daemon=True)
                for fn in (_ddeg_stats, _sym_stats)
            ]
            for th in subs:
                th.start()
            for th in subs:
                th.join()

        pre_errs: list[BaseException] = []

        def _pre_guard(fn):
            def run():
                try:
                    fn()
                except BaseException as exc:
                    pre_errs.append(exc)

            return run

        pre_threads = [
            threading.Thread(target=_pre_guard(fn), daemon=True)
            for fn in (_count_vertices, _esum)
        ]
        for th in pre_threads:
            th.start()
        for th in pre_threads:
            th.join()
        if pre_errs:
            raise pre_errs[0]
        n, esum = pre["n"], pre["esum"]

        out: dict[str, Any] = {}
        errs: list[BaseException] = []

        def _theta_eff(nnz_side: int) -> int:
            # A vertex only serializes a scatter partition when its
            # adjacency row is a material fraction of a block (~nnz/P rows
            # on average).  Splitting below that pushes bulk edges through
            # the per-edge broadcast path, which carries a FIXED
            # per-superstep cost (broadcast build + extra Arrow stage +
            # union into the message shuffle) — measured ~1.5-3 s/superstep
            # at sf0.1, tripling CC/LPA walls for zero straggler benefit.
            # hub_theta is therefore only a LOWER bound; the effective
            # threshold is the max of
            #   - hub_theta (caller intent),
            #   - nnz/(2P): only rows >= half an average CSR block can
            #     straggle a scatter task, at ANY scale,
            #   - hub_floor (abs): a row under ~64k entries packs/scatters
            #     in microseconds regardless of relative size, so splitting
            #     it never pays — this is what keeps the hub machinery
            #     dormant at toy/bench scale while the relative bound takes
            #     over at production scale.
            # hub_floor=0 is the test hook: trust hub_theta exactly so the
            # split path can be forced on micro fixtures.
            if not hub_floor:
                return hub_theta
            return max(hub_theta, nnz_side // (2 * P), hub_floor)

        def _directed() -> None:
            hub_edges = hub_vids = hub_pack = None
            nnz_hub = 0
            pr_edges = esum
            dirdeg = pre["dirdeg"]
            theta = _theta_eff(pre["nnz_total"]) if hub_theta is not None else None
            # Short-circuit: the split only exists for rows that can straggle
            # a scatter task; when the max out-degree is under theta_eff the
            # whole hub pipeline (split joins + 2 materializations + counts)
            # is provably a no-op — skip it.  At bench/toy scale this is the
            # common case (theta_eff floor 64k >> max degree).
            if theta is not None and pre["max_out"] > theta:
                non_hub, hub_e = split_hub_edges(esum, dirdeg, theta, presummed=True)
                hub_edges = hub_e.repartition(P, "src", "dst").localCheckpoint()
                hub_pack = _prepack_hub(hub_edges, P, ("coeff", "w")).localCheckpoint()
                # ONE materialization of the (tiny) hub vid set carrying its
                # out-degree: the nnz agg reads the leaf instead of running
                # a second dirdeg scan job, and the per-superstep broadcast
                # projects vid off the same leaf.
                hubv = (
                    dirdeg.where(F.col("out_deg") > theta)
                    .select("vid", "out_deg")
                    .localCheckpoint()
                )
                # hub nnz = total CSR row length of the hub srcs (exact:
                # esum has one row per (src, dst))
                nnz_hub = int(hubv.agg(F.sum("out_deg")).collect()[0][0])
                hub_vids = hubv.select("vid")
                pr_edges = non_hub
            blocks = build_csr_blocks(pr_edges, n, P, presummed=True).localCheckpoint()
            out["blocks"] = blocks
            out["hub_edges"], out["hub_vids"], out["nnz_hub"] = hub_edges, hub_vids, nnz_hub
            out["hub_pack"] = hub_pack
            out["nnz_d"] = pre["nnz_total"] - nnz_hub

        def _undirected() -> None:
            uhub_edges = uhub_vids = uhub_pack = None
            nnz_uhub = 0
            nnz_ub = None
            if hub_theta is not None:
                # symmetrized view + degree stats come pre-materialized from
                # the AQE-on pre-phase (_sym_stats)
                sym = pre["sym"]
                udeg = pre["udeg"]
                umax, unnz = pre["umax"], pre["unnz"]
                theta = _theta_eff(unnz)
                if umax > theta:  # same short-circuit as the directed side
                    udeg = udeg.localCheckpoint()  # referenced twice by the split
                    non_hub_u, uhub_e = split_hub_edges(sym, udeg, theta, presummed=True)
                    uhub_edges = (
                        uhub_e.select("src", "dst").repartition(P, "src", "dst").localCheckpoint()
                    )
                    uhub_pack = _prepack_hub(uhub_edges, P, ()).localCheckpoint()
                    # one leaf for the stats agg + the per-superstep
                    # broadcast (see the directed side)
                    uhubv = (
                        udeg.where(F.col("out_deg") > theta)
                        .select("vid", "out_deg")
                        .localCheckpoint()
                    )
                    nnz_uhub = int(uhubv.agg(F.sum("out_deg")).collect()[0][0])
                    uhub_vids = uhubv.select("vid")
                    sym = non_hub_u.select("src", "dst", "w")
                nnz_ub = unnz - nnz_uhub
            else:
                sym = symmetrize(esum)
            ublocks = build_csr_blocks(sym, n, P, presummed=True).localCheckpoint()
            out["ublocks"] = ublocks
            out["uhub_edges"], out["uhub_vids"], out["nnz_uhub"] = (
                uhub_edges, uhub_vids, nnz_uhub,
            )
            out["uhub_pack"] = uhub_pack
            # hub_theta=None path has no degree scan to reuse — fall back to
            # the block-nnz agg (tiny: P rows).
            out["nnz_ub"] = (
                nnz_ub
                if nnz_ub is not None
                else int(ublocks.agg(F.sum("nnz")).collect()[0][0] or 0)
            )

        def _base() -> None:
            # dangling ⇔ no out-edges ⇔ vid absent from the per-src degree
            # table (identical to build_degrees' out_deg == 0, without
            # re-running its two groupBys + two joins over the edge cache).
            out["base"] = (
                graph.vertices.select("vid")
                .join(pre["dirdeg"].select("vid", "out_deg"), "vid", "left")
                .select(
                    "vid",
                    F.pmod(F.col("vid"), F.lit(P)).cast("int").alias("part_id"),
                    F.col("out_deg").isNull().alias("dangling"),
                )
                .repartition(P, "part_id")
                .localCheckpoint()
            )

        def _fp() -> None:
            # anchored on the pre-summed simple edge table (a tiny cached
            # leaf) rather than a second full scan of the raw edge table —
            # equally deterministic, order-insensitive lineage identity.
            out["fp"] = input_fingerprint(esum)

        def _guard(fn):
            def run():
                try:
                    fn()
                except BaseException as exc:  # surface thread failures
                    errs.append(exc)

            return run

        threads = [
            threading.Thread(target=_guard(fn), daemon=True)
            for fn in (_directed, _undirected, _base, _fp)
        ]
        # AQE off ONLY while the loop-facing tables are checkpointed, so the
        # captured LogicalRDD leaves keep hashpartitioning(part_id, P) — see
        # the build() docstring.  (Session conf is driver-global; the build
        # owns the session for this window, exactly like run_program's loop.)
        with aqe_off(spark):
            for th in threads:
                th.start()
            for th in threads:
                th.join()
        if errs:
            raise errs[0]

        return GraphContext(
            spark, P, n, out["base"], out["blocks"], out["ublocks"],
            out["nnz_d"], out["nnz_ub"] + out["nnz_uhub"], out["fp"],
            hub_edges=out["hub_edges"], hub_vids=out["hub_vids"],
            nnz_hub=int(out["nnz_hub"]),
            uhub_edges=out["uhub_edges"], uhub_vids=out["uhub_vids"],
            nnz_uhub=int(out["nnz_uhub"]),
            hub_pack=out["hub_pack"], uhub_pack=out["uhub_pack"],
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


def _block_np(left: "pa.Table", name: str) -> np.ndarray:
    return np.asarray(left[name].combine_chunks().values)


def _dense_state(state: "pa.Table", col: str, p: int, P: int) -> np.ndarray:
    """State column in residue-class-dense order (index (vid - p) // P)."""
    loc = (_pa_np(state["vid"]) - p) // P
    vals = _pa_np(state[col])
    arr = np.zeros(state.num_rows, dtype=vals.dtype)
    arr[loc] = vals
    return arr


# Spark DDL type name -> Arrow type, for the schemas vertex programs declare
_ARROW = {"long": pa.int64(), "int": pa.int32(), "double": pa.float64(), "boolean": pa.bool_()}


def _ddl_fields(schema: str) -> list[tuple[str, str]]:
    """``"vid long, rank double"`` -> ``[("vid", "long"), ("rank", "double")]``."""
    return [tuple(f.split()) for f in schema.split(",")]


def _packed_msgs(P: int, udst: np.ndarray, payloads: dict[str, np.ndarray]) -> "pa.Table":
    """Split per-dst partial messages by destination partition and pack each
    slice as ONE Arrow list row: the shuffle then moves P array rows per
    block instead of |udst| scalar rows — no per-row shuffle CPU, and the
    destination side reads the values buffers back zero-copy."""
    pid = (udst % P).astype(np.int32)
    order = np.argsort(pid, kind="stable")
    offs = pa.array(np.searchsorted(pid[order], np.arange(P + 1)).astype(np.int32))
    cols: dict[str, object] = {
        "part_id": pa.array(np.arange(P, dtype=np.int32)),
        "dst": pa.ListArray.from_arrays(offs, pa.array(udst[order])),
    }
    for name, vals in payloads.items():
        cols[name] = pa.ListArray.from_arrays(offs, pa.array(vals[order]))
    return pa.table(cols)


def _empty_packed(msg_types: dict[str, str]) -> "pa.Table":
    cols = {
        "part_id": pa.array([], pa.int32()),
        "dst": pa.array([], pa.list_(pa.int64())),
    }
    for name, typ in msg_types.items():
        cols[name] = pa.array([], pa.list_(_ARROW[typ]))
    return pa.table(cols)


def _prepack_hub(hub_edges: DataFrame, P: int, payload: tuple[str, ...]) -> DataFrame:
    """Pack hub edges into ONE array row per destination partition at build
    time: (part_id, dst[], src[], payload[]...).  ``sort_array`` on the
    (dst, src, ...) structs makes the pack deterministic across builds (the
    per-superstep ``collect_list`` it replaces was task-order dependent).
    Consumed by the dense vertex programs via a broadcast vid->state map +
    ``zip_with``/``transform`` — the hub adjacency itself never moves again
    inside the superstep loop."""
    z = F.sort_array(
        F.collect_list(F.struct(F.col("dst"), F.col("src"), *[F.col(c) for c in payload]))
    )

    def _field(name):
        return lambda x: x[name]

    return (
        hub_edges.groupBy(
            F.pmod(F.col("dst"), F.lit(P)).cast("int").alias("part_id")
        )
        .agg(z.alias("_z"))
        .select(
            "part_id",
            F.transform("_z", _field("dst")).alias("dst"),
            F.transform("_z", _field("src")).alias("src"),
            *[F.transform("_z", _field(c)).alias(c) for c in payload],
        )
    )


def _hub_state_map(state: DataFrame, hub_vids: DataFrame, col: str) -> DataFrame:
    """One-row vid->state map over the hub vertex set (broadcast into the
    pre-packed hub evaluation; hub sets are tiny by definition)."""
    return (
        state.join(F.broadcast(hub_vids), "vid")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("vid"), F.col(col)))
            ).alias("_m")
        )
    )


def _pack_hub_jvm(hub_rows, payload: tuple[str, ...]):
    """JVM-side hub message packer: per destination partition, one packed
    array row in the same wire format as ``_packed_msgs`` — collect_list of
    (dst, payload...) structs, unzipped with ``transform``.  Packing in the
    JVM spares the hub path a Python worker round trip, which would be the
    bulk of the hub split's fixed per-superstep overhead at small scale."""
    z = F.collect_list(F.struct(F.col("dst"), *[F.col(c) for c in payload]))

    def _field(name):
        # single-parameter lambda per field: a two-parameter lambda would be
        # read by transform() as (element, index) and break field extraction
        return lambda x: x[name]

    return (
        hub_rows.groupBy("part_id")
        .agg(z.alias("_z"))
        .select(
            "part_id",
            F.transform("_z", _field("dst")).alias("dst"),
            *[F.transform("_z", _field(c)).alias(c) for c in payload],
        )
    )


# --------------------------------------------------------------------------
# the shared superstep
# --------------------------------------------------------------------------

def _scatter_udf(kernel, P: int, msg_types: dict[str, str]):
    """Source-side cogroup UDF around a program's ``scatter`` kernel: one CSR
    block + its co-partitioned state in, packed partial messages out."""

    def scatter(key, left: pa.Table, right: pa.Table) -> pa.Table:
        # NOTE: the (key, table...) type hints are load-bearing — PySpark
        # 4.1.2's applyInArrow raises UnboundLocalError if hint inference
        # fails (group_ops.py:936).
        if left.num_rows and right.num_rows:
            p = left["part_id"][0].as_py()
            out = kernel(
                lambda name: _block_np(left, name),
                lambda col: _dense_state(right, col, p, P),
            )
            if out is not None:
                return _packed_msgs(P, *out)
        return _empty_packed(msg_types)

    return scatter


def _apply_udf(kernel, P: int, schema: str, msg_types: dict[str, str]):
    """Destination-side cogroup UDF around a program's ``apply`` kernel: the
    packed messages of one partition + its state in, new state out (dense
    residue-class indexing, no join).  A partition without messages hands
    the kernel typed empty arrays, so kernels have no empty branch."""
    fields = _ddl_fields(schema)
    no_msgs = {n: np.empty(0, _ARROW[t].to_pandas_dtype()) for n, t in msg_types.items()}

    def apply(key, msgs: pa.Table, state: pa.Table) -> pa.Table:
        p, nloc = key[0].as_py(), state.num_rows
        if nloc == 0:
            return pa.table({n: pa.array([], _ARROW[t]) for n, t in fields})
        loc, m = np.empty(0, np.int64), no_msgs
        if msgs.num_rows:
            loc = (_pa_flat(msgs, "dst") - p) // P
            m = {n: _pa_flat(msgs, n) for n in msg_types}
        out = kernel(lambda col: _dense_state(state, col, p, P), nloc, loc, m)
        out["vid"] = p + np.arange(nloc, dtype=np.int64) * P
        out["part_id"] = np.full(nloc, p, np.int32)
        return pa.table({n: pa.array(out[n]) for n, _ in fields})

    return apply


class VertexProgram:
    """One vertex-centric superstep shared by every program (see the module
    docstring for the kernel contract).  Subclasses declare ``name``,
    ``state_cols``, ``apply_schema`` (state_cols + one stat column, Spark
    DDL), ``msg_types`` (payload column -> DDL type), ``uses_undirected``,
    ``hub_col`` and the ``scatter``/``apply`` staticmethod kernels."""

    uses_undirected = False
    hub_col: str | None = None

    def step_params(self, ctx: GraphContext, state: DataFrame, carry: dict | None) -> dict:
        """Plain scalars bound into the apply kernel for this superstep."""
        return {}

    def hub_payload(self) -> dict:
        """Per-edge hub message columns.  Pack mode: evaluated on the static
        pack (``src``/``coeff``/``w`` arrays, ``_m`` the vid->``hub_col``
        map).  Frontier mode: evaluated per hub edge row joined with the
        sender's ``hub_col``."""
        raise NotImplementedError

    def hub_frontier(self):
        """None: dense program, hub messages come from the static pack.
        Otherwise the Column predicate selecting the hub senders that
        message out (broadcast-join path)."""
        return None

    def stat_exprs(self):
        return [F.sum("_changed").alias("changes")]

    def done(self, stats: dict) -> bool:
        return stats["changes"] == 0

    def superstep(self, ctx: GraphContext, state: DataFrame, carry: dict | None = None) -> DataFrame:
        apply = functools.partial(self.apply, **self.step_params(ctx, state, carry))
        if self.uses_undirected:
            blocks, hub_edges, hub_vids, hub_pack = (
                ctx.ublocks, ctx.uhub_edges, ctx.uhub_vids, ctx.uhub_pack,
            )
        else:
            blocks, hub_edges, hub_vids, hub_pack = (
                ctx.blocks, ctx.hub_edges, ctx.hub_vids, ctx.hub_pack,
            )
        packed_schema = ", ".join(
            ["part_id int", "dst array<long>"]
            + [f"{n} array<{t}>" for n, t in self.msg_types.items()]
        )
        msgs = (
            blocks.groupby("part_id")
            .cogroup(state.groupby("part_id"))
            .applyInArrow(_scatter_udf(self.scatter, ctx.P, self.msg_types), packed_schema)
        )
        if hub_edges is not None:
            # op 47: hub adjacency lives outside the CSR blocks; its messages
            # join the block messages in the same packed wire format.
            payload = [col.alias(n) for n, col in self.hub_payload().items()]
            frontier = self.hub_frontier()
            if frontier is None:
                # dense: static pack per destination partition (built once)
                # + a broadcast vid->state map over the tiny hub set — the hub
                # edge set never re-shuffles in the loop.
                m = _hub_state_map(state, hub_vids, self.hub_col)
                hub_msgs = hub_pack.crossJoin(F.broadcast(m)).select(
                    "part_id", "dst", *payload
                )
            else:
                # frontier-sparse: only active hub senders are broadcast-
                # joined onto their edges, then packed JVM-side.
                hub_state = (
                    state.where(frontier)
                    .join(F.broadcast(hub_vids), "vid")
                    .select(F.col("vid").alias("src"), *filter(None, [self.hub_col]))
                )
                hub_rows = hub_edges.join(F.broadcast(hub_state), "src").select(
                    F.pmod(F.col("dst"), F.lit(ctx.P)).cast("int").alias("part_id"),
                    "dst",
                    *payload,
                )
                hub_msgs = _pack_hub_jvm(hub_rows, tuple(self.msg_types))
            msgs = msgs.unionByName(hub_msgs)
        # ONE shuffle: packed message rows to their destination partition;
        # the cogroup finalizes the combine + state update in numpy (no
        # groupBy(dst), no join, no per-row shuffle records).
        return (
            msgs.groupby("part_id")
            .cogroup(state.groupby("part_id"))
            .applyInArrow(
                _apply_udf(apply, ctx.P, self.apply_schema, self.msg_types),
                self.apply_schema,
            )
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
    hub_col = "rank"
    scatter = staticmethod(functools.partial(_weighted_sum_scatter, wcol="coeff"))
    hub_weight = "coeff"  # hub pack column matching the block's coeff

    def __init__(self, d: float = 0.85, tol: float = 1e-6):
        self.d, self.tol = d, tol

    def init_state(self, ctx: GraphContext) -> DataFrame:
        return ctx.vertex_base.withColumn("rank", F.lit(1.0 / ctx.n_vertices))

    def hub_payload(self) -> dict:
        return {
            "msum": F.zip_with("src", self.hub_weight, lambda s, c: F.col("_m")[s] * c)
        }

    def _dangling_mass(self, state: DataFrame, carry: dict | None) -> float:
        # dangling mass of state_{t-1}: carried from the previous superstep's
        # stats row (saves one job per superstep); computed directly only on
        # the first superstep after init/resume.
        # Both paths compute the dangling mass as an EXACT decimal(38,25)
        # sum: double-sum merge order varies with task completion order
        # (load-dependent), and this scalar feeds back into every rank, so
        # an order-dependent sum breaks bit-identical resume (the carry
        # path and the post-resume recompute path must agree bitwise).
        # Decimal addition is exact, hence order-independent; float() of
        # the exact total is one deterministic rounding.
        if carry is not None and "dangling_mass" in carry:
            return float(carry["dangling_mass"] or 0.0)
        return float(
            state.where("dangling")
            .agg(F.sum(F.col("rank").cast("decimal(38,25)")))
            .collect()[0][0]
            or 0.0
        )

    def step_params(self, ctx, state, carry) -> dict:
        return {"d": self.d, "n": ctx.n_vertices, "dmass": self._dangling_mass(state, carry)}

    @staticmethod
    def apply(st, nloc, loc, m, d, n, dmass):
        rank_old = st("rank")
        msum = np.bincount(loc, weights=m["msum"], minlength=nloc)
        rank_new = (1.0 - d) / n + d * (msum + dmass / n)
        return {"dangling": st("dangling"), "rank": rank_new, "_delta": np.abs(rank_new - rank_old)}

    def stat_exprs(self):
        return [
            F.max("_delta").alias("delta"),
            F.sum("rank").alias("rank_sum"),
            # decimal: exact, order-independent — see _dangling_mass(); this
            # value is consumed as next step's dmass.
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
        return {"d": self.d, "dmass": self._dangling_mass(state, carry)}

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
    hub_col = "comp"

    def init_state(self, ctx: GraphContext) -> DataFrame:
        return ctx.vertex_base.select("vid", "part_id", F.col("vid").alias("comp"))

    @staticmethod
    def scatter(blk, st):
        udst = blk("udst")
        partial = np.full(len(udst), np.iinfo(np.int64).max, dtype=np.int64)
        np.minimum.at(partial, blk("e2u"), np.repeat(st("comp"), np.diff(blk("indptr"))))
        return udst, {"mmin": partial}

    apply = staticmethod(_monotone_apply("comp", "mmin", np.minimum, np.iinfo(np.int64).max))

    def hub_payload(self) -> dict:
        return {"mmin": F.transform("src", lambda s: F.col("_m")[s])}


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
    # RAW w, not coeff, on both the blocks and the hub pack
    scatter = staticmethod(functools.partial(_weighted_sum_scatter, wcol="weights"))
    hub_weight = "w"

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
    hub_col = "dist"

    def __init__(self, source_vids: DataFrame):
        """``source_vids``: one-column (vid) DataFrame of BFS sources."""
        self.source_vids = source_vids

    def init_state(self, ctx: GraphContext) -> DataFrame:
        srcs = self.source_vids.select("vid").distinct().withColumn("_s", F.lit(True))
        return (
            ctx.vertex_base.join(F.broadcast(srcs), "vid", "left")
            .select(
                "vid",
                "part_id",
                F.when(F.col("_s"), F.lit(0))
                .otherwise(F.lit(int(BFS_INF)))
                .cast("long")
                .alias("dist"),
            )
        )

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

    def hub_frontier(self):
        # only reached hub vertices message out
        return F.col("dist") < F.lit(int(BFS_INF))

    def hub_payload(self) -> dict:
        return {"mmin": F.col("dist") + 1}

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
    hub_col = "mask"

    def __init__(self, root_vids: DataFrame):
        """``root_vids``: one-column (vid) DataFrame of component roots
        (even-parity seeds), e.g. ComponentsProgram fixed-point roots."""
        self.root_vids = root_vids

    def init_state(self, ctx: GraphContext) -> DataFrame:
        roots = self.root_vids.select("vid").distinct().withColumn("_s", F.lit(True))
        return (
            ctx.vertex_base.join(F.broadcast(roots), "vid", "left")
            .select(
                "vid",
                "part_id",
                F.when(F.col("_s"), F.lit(1))
                .otherwise(F.lit(0))
                .cast("long")
                .alias("mask"),
            )
        )

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

    def hub_frontier(self):
        return F.col("mask") > 0

    def hub_payload(self) -> dict:
        # a hub vertex's message is its bit-swapped mask; OR-aggregation in
        # apply absorbs the extra rows
        swapped = F.shiftleft(F.col("mask").bitwiseAND(F.lit(1)), 1).bitwiseOR(
            F.shiftright(F.col("mask"), 1).bitwiseAND(F.lit(1))
        )
        return {"mor": swapped.cast("long")}

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
    hub_col = "dist"

    def __init__(self, source_vids: DataFrame):
        self.source_vids = source_vids

    def init_state(self, ctx: GraphContext) -> DataFrame:
        srcs = self.source_vids.select("vid").distinct().withColumn("_s", F.lit(True))
        return (
            ctx.vertex_base.join(F.broadcast(srcs), "vid", "left")
            .select(
                "vid",
                "part_id",
                F.when(F.col("_s"), F.lit(0.0))
                .otherwise(F.lit(float("inf")))
                .alias("dist"),
            )
        )

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

    def hub_frontier(self):
        return F.col("dist") != F.lit(float("inf"))

    def hub_payload(self) -> dict:
        # relax on the raw w column the hub split carries alongside coeff
        return {"mmin": F.col("dist") + F.col("w")}

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
    hub_col = "cap"

    def __init__(self, source_vids: DataFrame):
        self.source_vids = source_vids

    def init_state(self, ctx: GraphContext) -> DataFrame:
        srcs = self.source_vids.select("vid").distinct().withColumn("_s", F.lit(True))
        return (
            ctx.vertex_base.join(F.broadcast(srcs), "vid", "left")
            .select(
                "vid",
                "part_id",
                F.when(F.col("_s"), F.lit(float("inf")))
                .otherwise(F.lit(float("-inf")))
                .alias("cap"),
            )
        )

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

    def hub_frontier(self):
        return F.col("cap") != F.lit(float("-inf"))

    def hub_payload(self) -> dict:
        # relax min(cap, w) on the raw w column the hub split carries
        return {"mmax": F.least(F.col("cap"), F.col("w"))}

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

    def hub_frontier(self):
        # freshly-activated hubs only (same at-most-once-per-edge guarantee
        # as the block path); np.add.at in apply combines duplicates
        return F.col("rnd") == F.col("step")

    def hub_payload(self) -> dict:
        return {"msum": F.lit(1).cast("long")}

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
    hub_col = "label"

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

    def hub_payload(self) -> dict:
        # hub neighbours each contribute (label, cnt=1) off the static pack;
        # the apply's per-(vertex, label) count-sum folds them with the
        # block partials, so per-edge entries are exact
        return {
            "label": F.transform("src", lambda s: F.col("_m")[s]),
            "cnt": F.array_repeat(F.lit(1).cast("long"), F.size("src")),
        }


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


class _CkptWriter:
    """One durable write in flight, overlapped with the next superstep's
    compute — but never silent: a failed ckpt.write (disk full, parquet
    error) is captured and re-raised at the next submit()/join(), so a
    broken durability surface aborts the run instead of reporting
    success with a hole in the resume chain."""

    def __init__(self) -> None:
        self._thread: threading.Thread | None = None
        self._err: BaseException | None = None

    def submit(self, fn, *args, **kwargs) -> None:
        self.join()  # re-raises any previous write failure

        def run():
            try:
                fn(*args, **kwargs)
            except BaseException as e:  # noqa: BLE001 — re-raised in join
                self._err = e

        self._thread = threading.Thread(target=run, daemon=True)
        self._thread.start()

    def wait(self) -> None:
        """Join without raising (error-path cleanup: the in-flight write
        finishes or fails before the superstep's own exception propagates;
        any write error is kept and surfaced by a later join())."""
        if self._thread is not None:
            self._thread.join()
            self._thread = None

    def join(self) -> None:
        self.wait()
        if self._err is not None:
            err, self._err = self._err, None
            raise err


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

    With ``ckpt_root``: every superstep is durably checkpointed with lineage
    + metrics and the next superstep reads back from parquet; a killed run
    re-invoked with the same root resumes from the latest complete superstep
    (op 53).  Without it, localCheckpoint gives the same plan truncation
    without durability.

    AQE is disabled for the duration of the loop: superstep plans are fully
    pinned (explicit P-way partitioning, fixed shapes), so adaptive re-
    planning only adds per-job latency — measured ~0.3-1s per superstep —
    and its partition coalescing can silently undo the co-partitioning
    (SURVEY.md §7 trap 4).  Restored afterwards for the relational glue.
    """
    with aqe_off(ctx.spark):
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

        if state is None:
            state = (
                (init_state if init_state is not None else program.init_state(ctx))
                .repartition(ctx.P, "part_id")
                .localCheckpoint()
            )

        nnz = ctx.nnz_undirected if program.uses_undirected else ctx.nnz_directed + ctx.nnz_hub
        history: list[dict[str, Any]] = []
        converged = False
        carry: dict | None = None
        t = t0
        writer = _CkptWriter()
        last_iter = fixed_iters if fixed_iters is not None else max_iter
        try:
            for t in range(t0 + 1, last_iter + 1):
                tic = time.monotonic()
                # ONE Spark job per superstep: the convergence aggregates ride
                # the state-materialization job itself via CollectMetrics
                # (observe), instead of a separate groupBy+collect job.
                # observe() computes the program's stat_exprs as global
                # aggregates during the eager localCheckpoint, so at
                # P=32/sf0.1 the per-superstep fixed floor is one job's
                # scheduling overhead, not two (VERDICT r03 item 5).
                obs = Observation(f"{program.name}-t{t}-{_next_obs_id()}")
                ns = (
                    program.superstep(ctx, state, carry)
                    .observe(obs, *program.stat_exprs())
                    .select(*program.state_cols)
                    # repartition re-pins HashPartitioning(part_id) (cogroup
                    # output partitioning is unknown to Catalyst) so the next
                    # superstep's two cogroups reuse it with no extra
                    # exchange; the eager localCheckpoint materializes in the
                    # same job and keeps the plan one superstep deep (op 54).
                    .repartition(ctx.P, "part_id")
                    .localCheckpoint(eager=True)
                )
                # LogicalRDD from localCheckpoint captures the ORIGIN plan's
                # estimated statistics/constraints, and the cogroup stats
                # visitor is a product over children sizeInBytes — left in
                # place, each superstep's state inherits the product of the
                # previous one (bit-length triples per superstep; by ~step 16
                # Catalyst spins on million-bit BigInteger multiplies and then
                # throws "BigInteger would overflow supported range").
                # Stripping originStats resets every superstep to the constant
                # leaf default, so within-superstep plan stats stay bounded
                # and never compound across supersteps.
                _strip_origin_stats(ns)
                # decimal aggregates (exact, order-independent — e.g.
                # PageRank's dangling_mass) come back as Decimal: one
                # deterministic float() here keeps carry math and metrics JSON
                # plain-float.
                stats: dict[str, Any] = {
                    name: float(v) if isinstance(v, decimal.Decimal) else v
                    for name, v in obs.get.items()
                }
                stats.update({"wall_s": None, "edges_scattered": nnz})
                state = ns
                if ckpt is not None:
                    # The durable write is needed only for resume (op 53),
                    # never by the next superstep (which reads the
                    # checkpointed state) — so it runs on a writer thread
                    # OVERLAPPED with superstep t+1's compute, reading the
                    # localCheckpoint's in-memory RDD.  The lineage stats
                    # (rows + checksum) ride the write job itself as an
                    # Observation, so the durable surface costs ONE overlapped
                    # Spark action per superstep, not two.  One writer at a
                    # time keeps step dirs + metrics.jsonl ordered (submit()
                    # joins the previous write and re-raises its failure); a
                    # crash mid-write is already handled by the tmp-dir rename
                    # + manifest revalidation in CheckpointManager (resume
                    # falls back to the newest complete step).
                    writer.submit(
                        ckpt.write,
                        t,
                        state,
                        metrics={k: stats[k] for k in stats if k != "wall_s"},
                    )
                stats["wall_s"] = time.monotonic() - tic
                stats["superstep"] = t
                history.append(stats)
                carry = stats
                if fixed_iters is None and program.done(stats):
                    converged = True
                    break
        except BaseException:
            # A failing superstep must not leave the write thread dangling
            # (interpreter exit could kill the daemon mid-write).  Join it —
            # without masking the propagating superstep error — then unwind.
            writer.wait()
            raise
        writer.join()  # surface any failure of the final durable write
        return RunResult(state, t, converged, history, resumed_from=t0)
