"""Deterministic transcript-table synthesizer (FIXTURES.md §1).

Generates the authoritative input schema (BASELINE.json input_hint):

    transcripts(conv_id string, turn_idx int32, role string,
                text string, tool string|null, ts timestamp)

Everything is seeded (``numpy.random.default_rng(seed)``), draws happen in a
fixed column order, and the emitted rows are SHUFFLED with a seeded
permutation so downstream tests prove stable turn ordering rather than
relying on physical row order.

Scale note: the generator is numpy-vectorized and builds one pandas frame;
it is meant for test/bench tiers (<= tens of millions of turns on the bench
host). The production input is an Iceberg table (io.load_transcripts) — this
module exists because the sandbox has no external data.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .io import TRANSCRIPT_SCHEMA

BASE_TS = np.datetime64("2026-01-01T00:00:00")


def synth_transcripts_pdf(
    n_conversations: int = 50,
    seed: int = 42,
    max_turns: int = 200,
    n_agents: int = 20,
    n_tools: int = 12,
    tool_null_p: float = 0.8,
    unique_users: bool = False,
) -> pd.DataFrame:
    """Build the transcript table as a pandas frame, deterministically.

    - turns per conv ~ Zipf(a=1.5) clipped to [2, max_turns] (hub/long-tail
      skew fixture);
    - roles: per-conv cast of 2-4 drawn from {user, assistant, agent00..};
      turns alternate through the cast;
    - tool: null with p=tool_null_p else Zipf-weighted tool00..toolNN
      (tool00 is the hub);
    - ts: BASE_TS + conv offset + turn_idx seconds, strictly increasing per
      conv;
    - rows returned in a seeded SHUFFLED order.

    ``unique_users=True`` (bench tier): each conversation's first cast slot
    becomes a per-conversation user actor ``u{conv:06d}`` so the vertex set
    scales with the conversation count (V ~ n_conversations + n_agents)
    while agent/tool vertices stay shared hubs — the power-law shape the
    skew machinery exists for.  FIXTURES.md §1's test tier keeps the small
    shared vocabulary (unique_users=False).
    """
    rng = np.random.default_rng(seed)

    # -- per-conversation draws (fixed order: turns, cast, tools) ----------
    n_turns = np.clip(rng.zipf(1.5, size=n_conversations), 2, max_turns).astype(np.int64)
    total = int(n_turns.sum())

    roles_vocab = np.array(
        ["user", "assistant"] + [f"agent{i:02d}" for i in range(n_agents)]
    )
    cast_sizes = rng.integers(2, 5, size=n_conversations)
    # Cast member draws, one row of indices per conversation (padded draw so
    # the number of rng consumptions is fixed regardless of cast size).
    cast_draw = rng.integers(0, len(roles_vocab), size=(n_conversations, 4))

    conv_ids = np.repeat(np.arange(n_conversations), n_turns)
    turn_idx = np.concatenate([np.arange(n, dtype=np.int64) for n in n_turns])

    # role = cast[turn_idx % cast_size] per conversation
    cast_size_rep = cast_sizes[conv_ids]
    cast_pos = (turn_idx % cast_size_rep).astype(np.int64)
    role_idx = cast_draw[conv_ids, cast_pos]
    roles = roles_vocab[role_idx]
    if unique_users:
        user_names = np.char.add("u", np.char.zfill(np.arange(n_conversations).astype(str), 6))
        roles = np.where(cast_pos == 0, user_names[conv_ids], roles)

    # tool column: null with p, else zipf-weighted tool index
    tool_mask = rng.random(total) >= tool_null_p  # True => has tool
    tool_ranks = np.minimum(rng.zipf(1.8, size=total), n_tools) - 1
    tools = np.where(tool_mask, np.char.add("tool", np.char.zfill(tool_ranks.astype(str), 2)), None)

    conv_id_str = np.char.add("c", np.char.zfill(conv_ids.astype(str), 6))

    ts = BASE_TS + (conv_ids * 100_000 + turn_idx).astype("timedelta64[s]")

    text = np.char.add(
        np.char.add(np.char.add(conv_id_str, ":"), turn_idx.astype(str)),
        np.char.add(":", roles.astype(str)),
    )

    pdf = pd.DataFrame(
        {
            "conv_id": conv_id_str,
            "turn_idx": turn_idx.astype(np.int32),
            "role": roles,
            "text": text,
            "tool": pd.array(tools, dtype=object),
            "ts": pd.Series(ts),
        }
    )
    # Seeded shuffle so physical order never equals logical order.
    perm = rng.permutation(total)
    return pdf.iloc[perm].reset_index(drop=True)


def synth_transcripts(spark: SparkSession, n_conversations: int = 50, seed: int = 42, **kw) -> DataFrame:
    """Spark DataFrame over the synthesized table with the declared schema."""
    pdf = synth_transcripts_pdf(n_conversations=n_conversations, seed=seed, **kw)
    return spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA)


def synth_power_edges(
    spark: SparkSession,
    n_vertices: int,
    n_edges: int,
    seed: int = 42,
    zipf_a: float = 1.3,
    parts: int = 64,
) -> DataFrame:
    """Deterministic power-law edge table for scale probes (src uniform,
    dst Zipf-skewed -> heavy hub in-degree like tool/agent vertices).

    Used by the BENCH scaling-evidence runs where the transcript-derived
    graph at test tiers is too small to be compute-bound.  Multi-edges are
    kept (w=1 rows; multiplicities collapse in the CSR build).

    Generated DISTRIBUTED: one seeded rng per partition (seed ⊕ partition
    id), numpy-vectorized inside mapInArrow — no driver-side materialization,
    so probe graphs scale to hundreds of millions of edges.  Deterministic
    for a given (seed, parts) regardless of scheduling."""
    import pyarrow as pa

    def gen(it):
        for batch in it:
            for pid in batch.column(0).to_pylist():
                pid = int(pid)
                m = n_edges // parts + (1 if pid < n_edges % parts else 0)
                rng = np.random.default_rng(seed * 1_000_003 + pid)
                src = rng.integers(0, n_vertices, size=m, dtype=np.int64)
                dst = (rng.zipf(zipf_a, size=m).astype(np.int64) - 1) % n_vertices
                for lo in range(0, m, 2_000_000):
                    hi = min(lo + 2_000_000, m)
                    yield pa.record_batch(
                        {
                            "src": pa.array(src[lo:hi]),
                            "dst": pa.array(dst[lo:hi]),
                            "w": pa.array(np.ones(hi - lo)),
                        }
                    )

    base = spark.range(parts).repartition(parts, "id")
    return base.mapInArrow(gen, "src long, dst long, w double")


def graph_from_edges(edges: DataFrame, n_vertices: int):
    """Wrap a raw (src, dst, w) edge table as GraphTables (vids are already
    dense 0..V-1); vertices synthesized as v{id}."""
    from pyspark.sql import functions as F

    from .derive import GraphTables, build_degrees

    spark = edges.sparkSession
    vertices = spark.range(n_vertices).select(
        F.concat(F.lit("v"), F.col("id")).alias("vkey"),
        F.col("id").alias("vid"),
        F.lit("actor").alias("vtype"),
    )
    deduped = edges.groupBy("src", "dst").agg(F.sum("w").alias("w")).withColumn(
        "etype", F.lit("turn")
    )
    return GraphTables(
        vertices=vertices, edges=deduped, degrees=build_degrees(deduped, vertices)
    )


def micro_transcripts(spark: SparkSession, name: str) -> DataFrame:
    """Golden micro-graph fixtures (FIXTURES.md §3), hand-written rows."""
    rows = {
        "tri3": [("c0", i, r, None) for i, r in enumerate(["A", "B", "C", "A"])],
        "path4": [("c0", i, r, None) for i, r in enumerate(["A", "B", "C", "D"])],
        "two2cycles": [("c0", i, r, None) for i, r in enumerate(["A", "B", "A"])]
        + [("c1", i, r, None) for i, r in enumerate(["C", "D", "C"])],
        "star_hub": [
            (f"c{k}", i, r, None)
            for k in range(64)
            for i, r in enumerate([f"leaf{k:02d}", "HUB"])
        ],
        "dup_self": [
            ("c0", i, r, "tool00") for i, r in enumerate(["A", "A", "B", "A", "B"])
        ],
        # actor "search" calls tool "search": same key, two vertices
        "shared_name": [("c0", 0, "Search", "search"), ("c0", 1, "search", " SEARCH"),
                        ("c0", 2, "b", "search")],
    }[name]
    from datetime import datetime, timedelta

    base = datetime(2026, 1, 1)
    data = [
        (conv, int(idx), role, f"{conv}:{idx}:{role}", tool, base + timedelta(seconds=idx))
        for conv, idx, role, tool in rows
    ]
    return spark.createDataFrame(data, schema=TRANSCRIPT_SCHEMA)
