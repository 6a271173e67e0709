"""Graph derivation from transcript turns (SURVEY.md §2.9, ops 40-45).

Pipeline:
  transcripts --stable ordering--> ordered turns
             --lead() window-->    consecutive-turn edges (actor -> actor)
             --filter-->           tool-invocation edges  (actor -> tool)
             --groupBy-->          edge-key counts (src_key, dst_key, etype, w)
             --distinct+dense_ids-> vertex map (dense vids in (vtype, vkey) order)
             --join (vkey, vtype)-> edge table (src, dst, etype, w), one row per count
             --groupBy-->          degree table

Invariants (BASELINE.json north_rule / input_hint):
- stable turn ordering: sort key (conv_id, turn_idx, ts); the derived edge
  set is invariant to the physical row order of the input (property-tested).
- vids are dense int64 and equal ``row_number() OVER (ORDER BY vtype,
  vkey) - 1``: ``dense_ids`` computes exactly that window's ids with a
  range-partitioned sort, so no stage funnels the vertex set through one
  task and the DuckDB oracles can replay the ids as plain SQL.  NO
  ``monotonically_increasing_id`` anywhere (non-deterministic across
  runs/partitionings — SURVEY.md op 39).  ``key_graph`` applies the same
  ids to the single-namespace key graphs the registry queries derive.
- actor keys are normalized ``lower(trim(role))``; tool keys
  ``lower(trim(tool))``; vertex identity is (vkey, vtype).
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .session import job_description

TURN = "turn"
TOOL = "tool"
ACTOR_T = "actor"
TOOL_T = "tool"


def _dst_vtype() -> Column:
    """A dst is a tool on tool-edges, else an actor (srcs are actors)."""
    return F.when(F.col("etype") == TOOL, F.lit(TOOL_T)).otherwise(F.lit(ACTOR_T))


# Window for stable turn ordering. (conv_id, turn_idx) is unique in valid
# input; ts breaks ties if upstream data violates that, and turn_idx is the
# final deterministic tiebreak on itself.
def _conv_order():
    return Window.partitionBy("conv_id").orderBy("turn_idx", "ts")


@dataclass
class GraphTables:
    """The derived columnar graph: all plain DataFrames (FIXTURES.md §2)."""

    vertices: DataFrame  # vkey string, vid int64, vtype string
    edges: DataFrame     # src int64, dst int64, etype string, w double
    degrees: DataFrame   # vid, out_deg, in_deg (edge counts), out_w, in_w (weight sums)


def ordered_turns(transcripts: DataFrame) -> DataFrame:
    """Attach the stable order + normalized actor/tool keys."""
    return transcripts.select(
        "conv_id",
        "turn_idx",
        "ts",
        F.lower(F.trim(F.col("role"))).alias("actor_key"),
        F.lower(F.trim(F.col("tool"))).alias("tool_key"),
    ).withColumn("ord", F.row_number().over(_conv_order()))


def turn_edge_keys(ordered: DataFrame) -> DataFrame:
    """Consecutive-turn links: actor(turn i) -> actor(turn i+1) per conv.

    Implemented with ``lead()`` over the conversation window instead of a
    self-join (cheaper, skew-free: one window pass, no join shuffle —
    SURVEY.md op 14).  Self-loops (same actor twice in a row) are KEPT here;
    algorithm layers drop them where their semantics require.
    """
    nxt = F.lead("actor_key").over(_conv_order())
    return (
        ordered.withColumn("dst_key", nxt)
        .where(F.col("dst_key").isNotNull())
        .select(
            F.col("actor_key").alias("src_key"),
            "dst_key",
            F.lit(TURN).alias("etype"),
        )
    )


def tool_edge_keys(ordered: DataFrame) -> DataFrame:
    """Tool-invocation links: actor(turn) -> tool(turn) where tool set.

    The IS NOT NULL predicate stays a Column expression so Catalyst pushes it
    into the scan (SURVEY.md §4).
    """
    return ordered.where(F.col("tool_key").isNotNull()).select(
        F.col("actor_key").alias("src_key"),
        F.col("tool_key").alias("dst_key"),
        F.lit(TOOL).alias("etype"),
    )


def edge_keys(transcripts: DataFrame) -> DataFrame:
    """Union of turn- and tool-edges, still in key space (op 31)."""
    ordered = ordered_turns(transcripts)
    return turn_edge_keys(ordered).unionByName(tool_edge_keys(ordered))


def edge_key_counts(ekeys: DataFrame) -> DataFrame:
    """One row per (src_key, dst_key, etype) link, w = its multiplicity
    (double, for weighted PageRank).  The streaming ingest keeps the same
    table as its running edge counts."""
    return ekeys.groupBy("src_key", "dst_key", "etype").agg(
        F.count(F.lit(1)).cast("double").alias("w")
    )


def dense_ids(keys: DataFrame, *order_cols: str) -> DataFrame:
    """``keys`` plus ``vid`` = ``row_number() OVER (ORDER BY order_cols) - 1``.

    The same ids as that global window, without its single-task stage:
    range-partition by ``order_cols`` (partition p holds a contiguous key
    range), tag each row with its partition and materialize, collect the
    per-partition row counts (at most ``spark.sql.shuffle.partitions``
    rows) and add partition p's prefix offset (a literal array indexed by
    p) to a partition-local ``row_number``.  ``order_cols`` must be unique
    over ``keys`` (they are the keys themselves at every call site), or
    ties make the window nondeterministic too.  Runs eagerly, as jobs
    tagged ``derive:dense_ids``: the range partitioner's sampling job, the
    checkpoint job and the count collect.
    """
    spark = keys.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    with job_description(spark.sparkContext) as describe:
        describe("derive:dense_ids")
        tagged = (
            keys.repartitionByRange(n_parts, *order_cols)
            .withColumn("_p", F.spark_partition_id())
            .localCheckpoint()
        )
        counts = dict(tagged.groupBy("_p").count().collect())
    offsets = itertools.accumulate((counts.get(p, 0) for p in range(n_parts - 1)), initial=0)
    off = F.element_at(F.array(*map(F.lit, offsets)).cast("array<bigint>"), F.col("_p") + 1)
    w = Window.partitionBy("_p").orderBy(*order_cols)
    return tagged.select(
        *keys.columns, (off + F.row_number().over(w) - 1).cast("long").alias("vid")
    )


def key_graph(
    ekeys: DataFrame, vtype: Column, vkeys: DataFrame | None = None
) -> GraphTables:
    """Key-space edges ``(s, t, etype, w)`` -> ``GraphTables``, vids dense in
    key order.

    The vertex set is ``vkeys`` (one column ``vkey``) when given, so
    zero-degree vertices stay in it; otherwise the distinct edge endpoints.
    ``vtype`` is a Column over ``vkey``.  Edge rows are mapped one to one,
    not aggregated: callers that want one weighted row per link group in
    key space first.  A numeric key orders numerically; ``vertices.vkey``
    is its string form.
    """
    if vkeys is None:
        vkeys = (
            ekeys.select(F.col("s").alias("vkey"))
            .unionByName(ekeys.select(F.col("t").alias("vkey")))
            .distinct()
        )
    ids = dense_ids(vkeys, "vkey")
    vertices = ids.select(
        F.col("vkey").cast("string").alias("vkey"), "vid", vtype.alias("vtype")
    )
    v = F.broadcast(ids)
    edges = (
        ekeys.join(v.select(F.col("vkey").alias("s"), F.col("vid").alias("src")), "s")
        .join(v.select(F.col("vkey").alias("t"), F.col("vid").alias("dst")), "t")
        .select("src", "dst", "etype", "w")
    )
    return GraphTables(vertices=vertices, edges=edges, degrees=build_degrees(edges, vertices))


def build_vertices(counts: DataFrame) -> DataFrame:
    """Vertex map with dense deterministic vids (op 43).

    Identity = (vkey, vtype) of the ends of ``edge_key_counts``' links
    (``_dst_vtype``).  vids follow (vtype, vkey) order and are assigned by
    ``dense_ids``, which never funnels the vertex set through one task.
    """
    srcs = counts.select(F.col("src_key").alias("vkey"), F.lit(ACTOR_T).alias("vtype"))
    dsts = counts.select(F.col("dst_key").alias("vkey"), _dst_vtype().alias("vtype"))
    keys = srcs.unionByName(dsts).distinct()
    return dense_ids(keys, "vtype", "vkey").select("vkey", "vid", "vtype")


def build_edges(counts: DataFrame, vertices: DataFrame) -> DataFrame:
    """Map ``edge_key_counts``' links to vids, one edge row per link (op 44).

    Each side joins the broadcast vertex map once on (vkey, vtype), so an
    actor and a tool with the same key stay separate vertices.  The vertex
    map is small relative to the edge table at every scale tier (hub-list
    pattern, SURVEY.md op 11).
    """
    v = vertices.select("vkey", "vtype", "vid")
    return (
        counts.withColumns({"src_vtype": F.lit(ACTOR_T), "dst_vtype": _dst_vtype()})
        .join(F.broadcast(v.toDF("src_key", "src_vtype", "src")), ["src_key", "src_vtype"])
        .join(F.broadcast(v.toDF("dst_key", "dst_vtype", "dst")), ["dst_key", "dst_vtype"])
        .select("src", "dst", "etype", "w")
    )


def build_degrees(edges: DataFrame, vertices: DataFrame) -> DataFrame:
    """Out/in degree + weight sums per vid; vertices with no edges kept via
    left join (dangling detection = out_deg == 0, SURVEY.md op 45)."""
    out = edges.groupBy("src").agg(
        F.count(F.lit(1)).alias("out_deg"), F.sum("w").alias("out_w")
    )
    inn = edges.groupBy("dst").agg(
        F.count(F.lit(1)).alias("in_deg"), F.sum("w").alias("in_w")
    )
    return (
        vertices.select("vid")
        .join(out.withColumnRenamed("src", "vid"), "vid", "left")
        .join(inn.withColumnRenamed("dst", "vid"), "vid", "left")
        .select(
            "vid",
            F.coalesce("out_deg", F.lit(0)).cast("long").alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).cast("long").alias("in_deg"),
            F.coalesce("out_w", F.lit(0.0)).alias("out_w"),
            F.coalesce("in_w", F.lit(0.0)).alias("in_w"),
        )
    )


def build_graph(transcripts: DataFrame, cache: bool = False) -> GraphTables:
    """Full derivation: transcripts -> (vertices, edges, degrees).

    The vertex map and the edge table are both built from
    ``edge_key_counts``' links, not from the raw edge-key stream.  vids are
    dense in (vtype, vkey) order (``build_vertices``); the vertex map is
    materialized while it is built (``dense_ids``), the edge and degree
    tables stay lazy.  Every job this runs is tagged ``derive:<phase>``;
    the caller's job description is restored.

    ``cache=True`` eagerly materializes the link counts once
    (localCheckpoint) so the vertex/edge/degree builds don't each re-run the
    transcript window pass and its aggregation — use for bench/production
    builds; tests keep the default."""
    with job_description(transcripts.sparkSession.sparkContext) as describe:
        describe("derive:edge_key_counts")
        counts = edge_key_counts(edge_keys(transcripts))
        if cache:
            counts = counts.localCheckpoint()
        vertices = build_vertices(counts)
    edges = build_edges(counts, vertices)
    degrees = build_degrees(edges, vertices)
    return GraphTables(vertices=vertices, edges=edges, degrees=degrees)


def undirected_simple_edges(edges: DataFrame) -> DataFrame:
    """Undirected simple view: drop self-loops, collapse direction + dups.

    Emits each undirected edge once with u < v (used by CC symmetrization,
    triangles, and the nx oracles)."""
    uv = edges.where(F.col("src") != F.col("dst")).select(
        F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
    )
    return uv.distinct()
