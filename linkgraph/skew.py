"""Explicit hub-vertex skew handling (ops 22, 47; north_rule requirement).

Two complementary mechanisms:

1. ``salted_sum`` — two-phase salted aggregation for any (key, value)
   message stream: pre-aggregate on (key, salt) so no single reducer owns a
   hub key's full message volume, then finalize on key.  Property-tested
   equal to the unsalted aggregate; no engine path calls it (the CSR
   scatter pre-aggregates per block, see below).

2. Scatter-side hub splitting for the CSR path.  Mod partitioning puts ALL
   out-edges of a vertex in one block, so a hub source (a row longer than
   the build's threshold) would serialize one partition.
   ``GraphContext.build`` (pregel.py) reads the hub vids and their row
   weights off the degree job it already runs (``_hub_degrees``), and
   ``csr.build_csr_blocks`` packs the hub adjacency by DESTINATION
   partition in the same pass as the residue-class blocks.  Hub state is
   tiny by definition (few vertices), so each superstep the hub's owner
   sends it to every partition as a mirror, and each partition scatters its
   slice of the hub's edges with the program's own kernel: the hub's
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

