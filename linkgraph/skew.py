"""Explicit hub-vertex skew handling (ops 22, 47; north_rule requirement).

Two complementary mechanisms:

1. ``salted_sum`` — two-phase salted aggregation for any (key, value)
   message stream: pre-aggregate on (key, salt) so no single reducer owns a
   hub key's full message volume, then finalize on key.  Property-tested
   equal to the unsalted aggregate; no engine path calls it (the CSR
   scatter pre-aggregates per block, see below).

2. ``split_hub_edges`` — scatter-side hub splitting for the CSR path.  Mod
   partitioning puts ALL out-edges of a vertex in one block, so a hub source
   (out_deg > theta) would serialize one partition.  Hub adjacency is
   therefore pulled OUT of the residue-class CSR blocks and packed by
   DESTINATION partition (``csr.build_hub_blocks``).  Hub state is tiny by
   definition (few vertices), so each superstep the hub's owner sends it to
   every partition as a mirror, and each partition scatters its slice of
   the hub's edges with the program's own kernel (pregel.py): the hub's
   per-edge work is spread over all P scatter tasks, eliminating the
   straggler.

   Dst-side hub skew needs no extra work in the CSR path: the block-local
   ``np.bincount`` over ``udst`` is structurally a salted pre-aggregation
   with salt = part_id — each hub dst receives at most P partial rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_sum(
    df: DataFrame,
    key: str,
    value: str,
    n_salts: int = 16,
    salt_from: list[str] | None = None,
) -> DataFrame:
    """Two-phase aggregation: groupBy(key, salt).sum -> groupBy(key).sum.

    ``salt_from``: columns whose hash spreads a hub key's rows across salts
    (default: every non-key column, which is deterministic for a given row).
    Result schema: (key, value) — exactly what groupBy(key).sum gives.
    """
    salt_cols = salt_from or [c for c in df.columns if c != key]
    salt = F.pmod(F.xxhash64(*salt_cols), F.lit(n_salts)).alias("_salt")
    pre = (
        df.select(key, value, salt)
        .groupBy(key, "_salt")
        .agg(F.sum(value).alias(value))
    )
    return pre.groupBy(key).agg(F.sum(value).alias(value))


def detect_hubs(degrees: DataFrame, theta: int, side: str = "out") -> DataFrame:
    """Vertices whose out/in degree exceeds theta (op 47): vid, deg."""
    col = "out_deg" if side == "out" else "in_deg"
    return degrees.where(F.col(col) > theta).select("vid", F.col(col).alias("deg"))


def split_hub_edges(
    edges: DataFrame, degrees: DataFrame, theta: int, presummed: bool = False
) -> tuple[DataFrame, DataFrame]:
    """Partition the edge table into (non_hub, hub) by source out-degree.

    hub edges carry BOTH the PageRank scatter coefficient w/out_w(src) over
    the hub's WHOLE row (the hub blocks split that row by destination, so
    they cannot derive it) and the raw weight w (Katz and the min-plus
    programs — SSSP — scatter on it).
    ``presummed=True`` skips the multi-edge pre-sum when the input is
    already one row per (src, dst)."""
    hubs = detect_hubs(degrees, theta, side="out")
    e = edges if presummed else edges.groupBy("src", "dst").agg(F.sum("w").alias("w"))
    hub_e = (
        e.join(F.broadcast(hubs), e.src == hubs.vid, "inner")
        .join(degrees.select(F.col("vid").alias("src2"), "out_w"), e.src == F.col("src2"))
        .select("src", "dst", (F.col("w") / F.col("out_w")).alias("coeff"), "w")
    )
    non_hub = e.join(F.broadcast(hubs), e.src == hubs.vid, "left_anti")
    return non_hub, hub_e
