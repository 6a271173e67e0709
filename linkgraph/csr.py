"""Hash-partitioned CSR adjacency blocks as packed Arrow arrays (op 46).

One block row per graph partition ``p`` (``p = pmod(src, P)``):

    part_id:int32, n_local:int64, vmin:int64, vmax:int64, nnz:int64,
    indptr:array<int64>,      # length n_local+1 over the residue class
    indices:array<int64>,     # dst vids, sorted within each src row
    weights:array<double>,    # edge weights
    coeff:array<double>,      # w / out_w(src): PageRank scatter coefficient
    udst:array<int64>,        # unique dst vids in this block (sorted)
    e2u:array<int32>,         # per-edge index into udst (block-local
                              # pre-aggregation target, PowerGraph-style)
    hub:boolean               # False: residue-class block (this module)

The residue-class layout makes local indexing dense and join-free: vid ``v``
belongs to partition ``v % P`` at local index ``(v - p) // P``; every vid of
the class is represented (dangling vertices get empty indptr rows).  The
``udst``/``e2u`` pair is precomputed once so each superstep's block-local
combine is a single ``np.bincount`` and the shuffle carries at most
``|udst|`` rows per block instead of ``nnz``.

``build_hub_blocks`` packs the adjacency of split-off hub sources in the same
layout, keyed by DESTINATION partition instead (``hub`` True): row ``q``
holds the hub edges whose dst lies in partition ``q``, with ``indptr``
indexed by position in the sorted list of hub source vids.

Blocks are genuine Arrow data end-to-end: packed inside
``groupBy(part).applyInPandas`` (Arrow batches in/out), cached columnar, and
consumed by the superstep's ``cogroup().applyInArrow`` (pregel.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
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


def _make_pack(P: int, V: int, hubs: np.ndarray | None = None):
    """Pack function of one block row.  Residue-class rows (``hubs`` None)
    index partition p's vid class and derive coeff = w / out_w from the
    row; hub rows index the sorted ``hubs`` and take the given coeff."""

    # no type hints: a partial hint makes applyInPandas warn that it cannot
    # infer the eval type (the grouped-map default is the one wanted)
    def pack(key, pdf):
        p = int(key[0])
        src = pdf["src"].to_numpy(np.int64)
        dst = pdf["dst"].to_numpy(np.int64)
        w = pdf["w"].to_numpy(np.float64)

        if hubs is None:
            nloc = n_local_of(p, V, P)
            loc, vmin, vmax = (src - p) // P, p, p + (nloc - 1) * P if nloc else p
        else:
            nloc, loc, vmin, vmax = len(hubs), np.searchsorted(hubs, src), hubs[0], hubs[-1]
        order = np.lexsort((dst, loc))
        loc, dst, w = loc[order], dst[order], w[order]

        counts = np.bincount(loc, minlength=nloc)
        indptr = np.zeros(nloc + 1, dtype=np.int64)
        np.cumsum(counts, out=indptr[1:])

        if hubs is None:
            out_w = np.bincount(loc, weights=w, minlength=nloc)
            with np.errstate(divide="ignore", invalid="ignore"):
                coeff = w / out_w[loc]
        else:
            coeff = pdf["coeff"].to_numpy(np.float64)[order]

        udst, e2u = np.unique(dst, return_inverse=True)

        return pd.DataFrame(
            {
                "part_id": [np.int32(p)],
                "n_local": [np.int64(nloc)],
                "vmin": [np.int64(vmin)],
                "vmax": [np.int64(vmax)],
                "nnz": [np.int64(len(dst))],
                "indptr": [indptr],
                "indices": [dst],
                "weights": [w],
                "coeff": [coeff],
                "udst": [udst],
                "e2u": [e2u.astype(np.int32)],
                "hub": [hubs is not None],
            }
        )

    return pack


def build_csr_blocks(
    edges: DataFrame, n_vertices: int, P: int, presummed: bool = False
) -> DataFrame:
    """Pack (src, dst, w) edges into P hash-partitioned CSR block rows.

    Parallel multi-edges are pre-summed (groupBy) so nnz is the number of
    distinct (src, dst) pairs; pass ``presummed=True`` when the input is
    already one row per (src, dst) — e.g. the shared pre-summed scan in
    GraphContext.build or symmetrize() output — to skip that shuffle
    entirely (VERDICT r01 item 5).  The result is repartitioned by
    ``part_id`` with exactly the session's shuffle partition count so the
    per-superstep ``cogroup`` on ``part_id`` reuses the partitioning without
    an exchange — callers should ``.persist()`` the returned DataFrame.

    Scale note: P bounds block size; choose P so nnz/P stays ~<= 50M edges
    (SURVEY.md §7 trap 5) — the packed arrays must fit a Python worker.
    """
    e = edges if presummed else edges.groupBy("src", "dst").agg(F.sum("w").alias("w"))
    e = e.withColumn("part", F.pmod(F.col("src"), F.lit(P)).cast("int"))
    blocks = e.groupBy("part").applyInPandas(_make_pack(P, n_vertices), BLOCK_SCHEMA)
    return blocks.repartition(P, "part_id")


def build_hub_blocks(hub_edges: DataFrame, hubs: tuple[int, ...], P: int) -> DataFrame:
    """Pack (src, dst, coeff, w) hub edges into one block row per
    DESTINATION partition, indexed by position in the sorted hub vids
    ``hubs``.  coeff must be w / out_w over the hub's whole row
    (``skew.split_hub_edges``): a row split by destination cannot derive it."""
    part = F.pmod(F.col("dst"), F.lit(P)).cast("int").alias("part")
    pack = _make_pack(P, 0, np.asarray(hubs, dtype=np.int64))
    packed = hub_edges.select(part, "src", "dst", "coeff", "w").groupBy("part")
    return packed.applyInPandas(pack, BLOCK_SCHEMA).repartition(P, "part_id")


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


def unpack_blocks(blocks: DataFrame, P: int) -> DataFrame:
    """Inverse of build_csr_blocks, for the round-trip property test:
    blocks -> (src, dst, w) edge DataFrame (vectorized, mapInPandas)."""

    def unpack(it):
        for pdf in it:
            # one block row per (part_id); per-row work is O(nnz) numpy
            for p, nloc, indptr, indices, weights in zip(
                pdf["part_id"], pdf["n_local"], pdf["indptr"],
                pdf["indices"], pdf["weights"],
            ):
                reps = np.diff(np.asarray(indptr, dtype=np.int64))
                src = np.repeat(
                    int(p) + np.arange(int(nloc), dtype=np.int64) * P, reps
                )
                yield pd.DataFrame(
                    {
                        "src": src,
                        "dst": np.asarray(indices, dtype=np.int64),
                        "w": np.asarray(weights, dtype=np.float64),
                    }
                )

    return blocks.mapInPandas(unpack, "src long, dst long, w double")
