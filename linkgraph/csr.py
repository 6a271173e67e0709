"""Hash-partitioned CSR adjacency blocks as packed Arrow arrays (op 46).

One residue-class block row per graph partition ``p`` (``p = pmod(src, P)``):

    part_id:int32, n_local:int64, vmin:int64, vmax:int64, nnz:int64,
    indptr:array<int64>,      # length n_local+1 over the residue class
    indices:array<int64>,     # dst vids, sorted within each src row
    weights:array<double>,    # edge weights
    coeff:array<double>,      # w / out_w(src): PageRank scatter coefficient
    udst:array<int64>,        # unique dst vids in this block (sorted)
    e2u:array<int32>,         # per-edge index into udst (block-local
                              # pre-aggregation target, PowerGraph-style)
    hub:boolean               # False: residue-class row; True: hub row

The residue-class layout makes local indexing dense and join-free: vid ``v``
belongs to partition ``v % P`` at local index ``(v - p) // P``; every vid of
the class is represented (dangling vertices get empty indptr rows).  The
``udst``/``e2u`` pair is precomputed once so each superstep's block-local
combine is a single ``np.bincount`` and the shuffle carries at most
``|udst|`` rows per block instead of ``nnz``.

Given the sorted hub vids (``GraphContext.hubs``), the adjacency rows of
those sources are packed in the same layout, keyed by DESTINATION partition
instead (``hub`` True): row ``q`` holds the hub edges whose dst lies in
partition ``q``, with ``indptr`` indexed by position in the sorted hub vids.

Blocks are genuine Arrow data end-to-end: both kinds of row are packed by
one ``groupBy(part, hub).applyInArrow``, cached columnar, and consumed by
the superstep's ``cogroup().applyInArrow`` (pregel.py).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

BLOCK_SCHEMA = StructType(
    [
        StructField("part_id", IntegerType(), False),
        StructField("n_local", LongType(), False),
        StructField("vmin", LongType(), False),
        StructField("vmax", LongType(), False),
        StructField("nnz", LongType(), False),
        StructField("indptr", ArrayType(LongType()), False),
        StructField("indices", ArrayType(LongType()), False),
        StructField("weights", ArrayType(DoubleType()), False),
        StructField("coeff", ArrayType(DoubleType()), False),
        StructField("udst", ArrayType(LongType()), False),
        StructField("e2u", ArrayType(IntegerType()), False),
        StructField("hub", BooleanType(), False),
    ]
)


def n_local_of(part_id: int, n_vertices: int, P: int) -> int:
    """Size of the vid residue class {v : v % P == part_id, v < V}."""
    if n_vertices <= part_id:
        return 0
    return (n_vertices - 1 - part_id) // P + 1


def _make_pack(P: int, V: int, hubs: np.ndarray, hub_out_w: np.ndarray):
    """Pack function of one block row, grouped by (part, hub).  Residue-
    class rows index partition p's vid class and derive coeff = w / out_w
    from the row; hub rows index the sorted ``hubs`` and divide by the
    hub's whole-row weight ``hub_out_w`` (the row is split by destination,
    so no block holds all of it)."""
    schema = to_arrow_schema(BLOCK_SCHEMA)

    # no type hints: grouped applyInArrow infers its eval type from hints
    # whenever a function has any, so annotate all of it or none of it (a
    # partial hint fails that inference and the plan raises)
    def pack(key, tbl):
        p, hub = key[0].as_py(), key[1].as_py()
        src, dst, w = (tbl[c].to_numpy() for c in ("src", "dst", "w"))

        if hub:
            nloc, loc, vmin, vmax = len(hubs), np.searchsorted(hubs, src), hubs[0], hubs[-1]
        else:
            nloc = n_local_of(p, V, P)
            loc, vmin, vmax = (src - p) // P, p, p + (nloc - 1) * P if nloc else p
        order = np.lexsort((dst, loc))
        loc, dst, w = loc[order], dst[order], w[order]

        counts = np.bincount(loc, minlength=nloc)
        indptr = np.zeros(nloc + 1, dtype=np.int64)
        np.cumsum(counts, out=indptr[1:])

        row_w = hub_out_w if hub else np.bincount(loc, weights=w, minlength=nloc)
        with np.errstate(divide="ignore", invalid="ignore"):
            coeff = w / row_w[loc]

        udst, e2u = np.unique(dst, return_inverse=True)
        values = (
            p, nloc, vmin, vmax, len(dst),
            indptr, dst, w, coeff, udst, e2u.astype(np.int32), hub,
        )
        # each array is the single value of its list column, wrapped
        # without a copy
        return pa.Table.from_arrays(
            [
                pa.ListArray.from_arrays(
                    pa.array([0, len(v)], pa.int32()), pa.array(v, f.type.value_type), f.type
                )
                if pa.types.is_list(f.type)
                else pa.array([v], f.type)
                for f, v in zip(schema, values)
            ],
            schema=schema,
        )

    return pack


def build_csr_blocks(
    edges: DataFrame,
    n_vertices: int,
    P: int,
    presummed: bool = False,
    hubs: tuple[int, ...] = (),
    hub_out_w: tuple[float, ...] = (),
) -> DataFrame:
    """Pack (src, dst, w) edges into hash-partitioned CSR block rows: one
    residue-class row per partition, plus one hub row per destination
    partition when ``hubs`` (sorted vids) is given.  ``hub_out_w`` holds
    each hub's whole-row weight sum, in ``hubs`` order.

    Parallel multi-edges are pre-summed (groupBy) so nnz is the number of
    distinct (src, dst) pairs; pass ``presummed=True`` when the input is
    already one row per (src, dst) — e.g. the shared pre-summed scan in
    GraphContext.build or symmetrize() output — to skip that shuffle
    entirely (VERDICT r01 item 5).  Every edge is packed by one
    ``groupBy(part, hub).applyInArrow``, keyed by its source's partition,
    or its destination's if the source is a hub.  The result is
    repartitioned by ``part_id`` with exactly the session's shuffle
    partition count so the per-superstep ``cogroup`` on ``part_id`` reuses
    the partitioning without an exchange — callers should ``.persist()``
    the returned DataFrame.

    Scale note: P bounds block size; choose P so nnz/P stays ~<= 50M edges
    (SURVEY.md §7 trap 5) — the packed arrays must fit a Python worker.
    """
    e = edges if presummed else edges.groupBy("src", "dst").agg(F.sum("w").alias("w"))
    hub = F.col("src").isin(list(hubs))
    part = F.pmod(F.when(hub, F.col("dst")).otherwise(F.col("src")), F.lit(P)).cast("int")
    pack = _make_pack(
        P, n_vertices, np.asarray(hubs, dtype=np.int64), np.asarray(hub_out_w, dtype=np.float64)
    )
    blocks = (
        e.select(part.alias("part"), hub.alias("hub"), "src", "dst", "w")
        .groupBy("part", "hub")
        .applyInArrow(pack, BLOCK_SCHEMA)
    )
    return blocks.repartition(P, "part_id")


def symmetrize(edges: DataFrame) -> DataFrame:
    """Undirected simple view as a symmetric directed edge list with w=1:
    drop self-loops, dedup direction-insensitively, emit both directions
    (input to CC/LPA CSR blocks)."""
    und = (
        edges.where(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v"))
        .distinct()
    )
    fwd = und.select(F.col("u").alias("src"), F.col("v").alias("dst"))
    rev = und.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    return fwd.unionByName(rev).withColumn("w", F.lit(1.0))


def unpack_blocks(blocks: DataFrame, P: int, hubs: tuple[int, ...] = ()) -> DataFrame:
    """Inverse of build_csr_blocks, for the round-trip property test:
    blocks -> (src, dst, w) edge DataFrame (vectorized, mapInArrow).
    ``hubs``: the sorted hub vids the blocks were packed with."""
    hubs = np.asarray(hubs, dtype=np.int64)

    def unpack(batches):
        for batch in batches:
            # one block row per (part_id, hub); per-row work is O(nnz) numpy
            for i in range(batch.num_rows):
                row = batch.slice(i, 1)
                p, nloc, hub = (row[c][0].as_py() for c in ("part_id", "n_local", "hub"))
                srcs = hubs if hub else p + np.arange(nloc, dtype=np.int64) * P
                reps = np.diff(np.asarray(row["indptr"].flatten()))
                yield pa.RecordBatch.from_arrays(
                    [pa.array(np.repeat(srcs, reps)), row["indices"].flatten(), row["weights"].flatten()],
                    names=["src", "dst", "w"],
                )

    return blocks.mapInArrow(unpack, "src long, dst long, w double")
