"""Graph derivation from transcript turns (SURVEY.md §2.9, ops 40-45).

Pipeline:
  transcripts --stable ordering--> ordered turns
             --lead() window-->    consecutive-turn edges (actor -> actor)
             --filter-->           tool-invocation edges  (actor -> tool)
             --distinct+dense_ids-> vertex map (dense vids in (vtype, vkey) order)
             --join+groupBy-->     edge table (src,dst,etype, w=multiplicity)
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

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

TURN = "turn"
TOOL = "tool"
ACTOR_T = "actor"
TOOL_T = "tool"

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


def dense_ids(keys: DataFrame, *order_cols: str) -> DataFrame:
    """``keys`` plus ``vid`` = ``row_number() OVER (ORDER BY order_cols) - 1``.

    The same ids as that global window, without its single-task stage:
    range-partition by ``order_cols`` (partition p holds a contiguous key
    range), tag each row with its partition and materialize, collect the
    per-partition row counts (at most ``spark.sql.shuffle.partitions``
    rows) and add each partition's prefix offset to a partition-local
    ``row_number``.  ``order_cols`` must be unique over ``keys`` (they are
    the keys themselves at every call site), or ties make the window
    nondeterministic too.  Runs eagerly: the range partitioner's sampling
    job, the checkpoint job and the count collect.
    """
    spark = keys.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    tagged = (
        keys.repartitionByRange(n_parts, *order_cols)
        .withColumn("_p", F.spark_partition_id())
        .localCheckpoint()
    )
    counts = sorted(tuple(r) for r in tagged.groupBy("_p").count().collect())
    offsets, acc = [], 0
    for p, c in counts:
        offsets.append((p, acc))
        acc += c
    off = spark.createDataFrame(offsets, "_p int, _off long")
    w = Window.partitionBy("_p").orderBy(*order_cols)
    return tagged.join(F.broadcast(off), "_p").select(
        *keys.columns,
        (F.col("_off") + F.row_number().over(w) - 1).cast("long").alias("vid"),
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


def build_vertices(ekeys: DataFrame) -> DataFrame:
    """Vertex map with dense deterministic vids (op 43).

    Identity = (vkey, vtype): srcs are always actors; dsts are actors for
    turn-edges and tools for tool-edges.  vids follow (vtype, vkey) order
    and are assigned by ``dense_ids``, which never funnels the vertex set
    through one task.
    """
    srcs = ekeys.select(F.col("src_key").alias("vkey"), F.lit(ACTOR_T).alias("vtype"))
    dsts = ekeys.select(
        F.col("dst_key").alias("vkey"),
        F.when(F.col("etype") == TOOL, F.lit(TOOL_T)).otherwise(F.lit(ACTOR_T)).alias("vtype"),
    )
    keys = srcs.unionByName(dsts).distinct()
    return dense_ids(keys, "vtype", "vkey").select("vkey", "vid", "vtype")


def build_edges(ekeys: DataFrame, vertices: DataFrame) -> DataFrame:
    """Map keys -> vids and dedup to weighted edges (op 44).

    w = multiplicity of the (src,dst,etype) link (double, for weighted
    PageRank).  The vertex map is broadcast — it is small relative to the
    edge table at every scale tier (hub-list pattern, SURVEY.md op 11).
    """
    v = F.broadcast(vertices)
    vsrc = v.where(F.col("vtype") == ACTOR_T).select(
        F.col("vkey").alias("src_key"), F.col("vid").alias("src")
    )
    vdst_actor = v.where(F.col("vtype") == ACTOR_T).select(
        F.col("vkey").alias("dst_key"), F.col("vid").alias("dst")
    )
    vdst_tool = v.where(F.col("vtype") == TOOL_T).select(
        F.col("vkey").alias("dst_key"), F.col("vid").alias("dst")
    )

    turn = ekeys.where(F.col("etype") == TURN).join(vsrc, "src_key").join(vdst_actor, "dst_key")
    tool = ekeys.where(F.col("etype") == TOOL).join(vsrc, "src_key").join(vdst_tool, "dst_key")

    return (
        turn.unionByName(tool)
        .groupBy("src", "dst", "etype")
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
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

    vids are dense in (vtype, vkey) order (``build_vertices``); the vertex
    map is materialized while it is built (``dense_ids``), the edge and
    degree tables stay lazy.

    ``cache=True`` eagerly materializes the edge-key stream once
    (localCheckpoint) so the vertex/edge/degree builds don't each re-run the
    transcript window pass — use for bench/production builds; tests keep
    the default."""
    ekeys = edge_keys(transcripts)
    if cache:
        ekeys = ekeys.localCheckpoint()
    vertices = build_vertices(ekeys)
    edges = build_edges(ekeys, vertices)
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
