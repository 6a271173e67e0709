"""Flagship query for the driver's ``entry()`` smoke (SURVEY.md §3 trace B).

From the driver table ``events(event_id, ts, user_id, event_type, value,
props)``: order by (user_id, ts, event_id); derive an interaction graph —
consecutive-event edges ``event_type(i) -> event_type(i+1)`` per user, plus
``user:<id> -> event_type`` invocation edges — run 5 PageRank supersteps on
the CSR engine (``pregel.run_program``), return the top-10 vertices by rank.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .derive import GraphTables, key_graph
from .io import load_table
from .pregel import GraphContext, PageRankProgram, run_program


def events_graph(events: DataFrame) -> GraphTables:
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "user_id",
        F.col("event_type").alias("s"),
        F.lead("event_type").over(w).alias("t"),
    )
    turn = seq.where(F.col("t").isNotNull()).select("s", "t", F.lit("turn").alias("etype"))
    tool = events.select(
        F.concat(F.lit("user:"), F.col("user_id").cast("string")).alias("s"),
        F.col("event_type").alias("t"),
        F.lit("tool").alias("etype"),
    )
    ekeys = (
        turn.unionByName(tool)
        .groupBy("s", "t", "etype")
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )
    # single shared namespace: every key is one vertex regardless of edge type
    vtype = F.when(F.col("vkey").startswith("user:"), F.lit("actor")).otherwise(F.lit("tool"))
    return key_graph(ekeys, vtype)


def flagship(spark: SparkSession, sf_dir: str = "/root/testdata/sf0.001") -> DataFrame:
    """5 fixed PageRank supersteps of the CSR engine on the events graph;
    top-10 by rank.

    Fixed iteration count + rank rounded to 6 decimals (and ORDERED by the
    rounded value) make this hash-checkable against the unrolled-CTE DuckDB
    oracle (graph_oracles.pagerank_fixed_sql) — double summation-order noise
    is ~1e-15 relative, far below the rounding grain."""
    graph = events_graph(load_table(spark, sf_dir, "events"))
    ctx = GraphContext.build(graph, 8)
    try:
        ranks = run_program(ctx, PageRankProgram(tol=0.0), fixed_iters=5).state
    finally:
        ctx.unpersist()
    return (
        ranks.join(graph.vertices, "vid")
        .select("vid", "vkey", "vtype", F.round("rank", 6).alias("rank"))
        .orderBy(F.desc("rank"), "vid")
        .limit(10)
    )
