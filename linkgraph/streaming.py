"""Streaming ingestion (SURVEY.md §2.11 / §1.4 — HOOVER's streaming posture).

HOOVER ingests transcript turns continuously and re-converges its graphs as
data lands.  The Spark realization is Structured Streaming over the landing
directory:

    transcripts parquet files --readStream-->
      per-conversation stateful pairing (applyInPandasWithState) -->
        edge-key deltas -->
      running weighted edge counts (derive.edge_key_counts, streamed) -->
        sink (memory for tests; parquet/kafka in production)

The hard part is the consecutive-turn edge: ``lead()`` windows are not
allowed on streaming DataFrames, and a conversation's turns may be SPLIT
across micro-batches.  ``streaming_edge_keys`` therefore keys the stream by
``conv_id`` and keeps one tiny state row per conversation — the last seen
(turn_idx, actor_key) — so the cross-batch boundary pair is emitted exactly
once when the continuation arrives.  State is O(active conversations) ×
~100 bytes, partition-parallel, and managed by Spark's state store
(checkpointed with the query, so a killed stream resumes exactly — the
streaming twin of checkpoint.py's superstep resume).

Ordering contract (documented, matching the batch derivation's sort key):
turns of one conversation arrive in nondecreasing ``turn_idx`` order across
micro-batches (transcript logs are append-only).  Within a micro-batch any
order is fine (sorted here); regressions across batches would need a
watermark + reorder buffer, which transcript appends don't require.

Downstream, the converged graph algorithms re-run from the accumulated edge
table via incremental.py's warm start — supersteps are driver-side loops,
deliberately OUTSIDE the streaming query (SURVEY.md §1.4).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from .derive import TOOL, TURN, edge_key_counts

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)

_EDGE_KEY_SCHEMA = StructType(
    [
        StructField("src_key", StringType()),
        StructField("dst_key", StringType()),
        StructField("etype", StringType()),
    ]
)

# last seen (turn_idx, actor_key) per conversation
_STATE_SCHEMA = StructType(
    [
        StructField("last_idx", LongType()),
        StructField("last_actor", StringType()),
    ]
)


def stream_transcripts(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over a transcript landing directory (op §2.1's
    streaming twin).  ``max_files_per_trigger`` bounds micro-batch size."""
    reader = spark.readStream.schema(TRANSCRIPT_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def streaming_edge_keys(transcripts: DataFrame) -> DataFrame:
    """Per-conversation stateful consecutive-turn + tool-edge derivation.

    Emits the same (src_key, dst_key, etype) rows as the batch
    ``derive.edge_keys`` — property-tested equal in tests/test_streaming.py —
    including pairs that straddle micro-batch boundaries."""

    def pair(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        rows = pd.concat(list(pdfs), ignore_index=True)
        if rows.empty:
            return
        rows = rows.sort_values(["turn_idx", "ts"], kind="mergesort")
        actors = rows["role"].str.strip().str.lower()
        tools = rows["tool"].str.strip().str.lower()

        src, dst, et = [], [], []
        if state.exists:
            last_idx, last_actor = state.get
            src.append(last_actor)
            dst.append(actors.iloc[0])
            et.append(TURN)
        a = actors.to_numpy()
        # consecutive pairs, vectorized: (a[0],a[1]), (a[1],a[2]), ...
        src.extend(a[:-1])
        dst.extend(a[1:])
        et.extend([TURN] * max(len(a) - 1, 0))
        mask = tools.notna()
        src.extend(actors[mask])
        dst.extend(tools[mask])
        et.extend([TOOL] * int(mask.sum()))

        state.update((int(rows["turn_idx"].iloc[-1]), a[-1]))
        yield pd.DataFrame({"src_key": src, "dst_key": dst, "etype": et})

    return transcripts.groupBy("conv_id").applyInPandasWithState(
        pair,
        outputStructType=_EDGE_KEY_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_tool_responses(
    transcripts: DataFrame,
    watermark: str = "1 minute",
    max_gap: str = "2 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-STREAM interval join (§2.11): pair each tool invocation with
    the turns that follow it in the same conversation within ``max_gap`` —
    'did the tool get a response, and how fast'.

    Both sides carry watermarks and the join has a bounded event-time range
    (resp_ts in (inv_ts, inv_ts + max_gap]), so Spark can expire join state
    once the watermark passes inv_ts + max_gap: state is O(in-flight
    window), not O(stream history) — the requirement for an unbounded run.
    Inner interval joins emit in append mode, exactly once per matched
    pair; with ``how="leftOuter"`` an UNANSWERED invocation additionally
    emits one null-response row once the watermark passes
    ``inv_ts + max_gap`` — state expiry doubles as timeout detection."""
    inv = (
        transcripts.where(F.col("tool").isNotNull())
        .select(
            F.col("conv_id").alias("inv_conv"),
            F.lower(F.trim(F.col("tool"))).alias("tool_key"),
            F.col("ts").alias("inv_ts"),
        )
        .withWatermark("inv_ts", watermark)
    )
    resp = (
        transcripts.select(
            F.col("conv_id").alias("resp_conv"),
            F.lower(F.trim(F.col("role"))).alias("resp_actor"),
            F.col("ts").alias("resp_ts"),
        )
        .withWatermark("resp_ts", watermark)
    )
    return inv.join(
        resp,
        F.expr(
            f"inv_conv = resp_conv AND resp_ts > inv_ts "
            f"AND resp_ts <= inv_ts + interval {max_gap}"
        ),
        how,
    ).select(
        F.col("inv_conv").alias("conv_id"),
        "tool_key",
        "inv_ts",
        "resp_actor",
        "resp_ts",
    )


def streaming_enriched_edges(edge_keys: DataFrame, actor_dim: DataFrame) -> DataFrame:
    """Stream-static broadcast join (§2.11 enrichment pattern): tag each
    streamed edge delta with the static actor dimension's attributes.

    Stream-static INNER/LEFT joins are stateless in Structured Streaming —
    no watermark, no join state — because the static side is re-broadcast
    per micro-batch; with ``F.broadcast`` the per-batch plan is a broadcast
    hash join, so at 100 TB/day of deltas the dim never shuffles the
    stream.  (Static side: small actor/tool dimension — the same table the
    batch engine broadcasts in relational joins.)"""
    dim = F.broadcast(
        actor_dim.select(
            F.col("actor_key").alias("src_key"),
            F.col("tier").alias("src_tier"),
        )
    )
    return edge_keys.join(dim, "src_key", "left")


def streaming_turn_rate(
    transcripts: DataFrame,
    window: str = "1 minute",
    watermark: str = "30 seconds",
) -> DataFrame:
    """Watermarked tumbling-window turn counts per role (§2.11 late-data
    handling): event-time windows over ``ts``, with the watermark bounding
    how late a turn may arrive and still be counted.  In append mode a
    window row is emitted exactly once, when the watermark passes its end —
    the streaming form of ``relational.q_time_window``'s batch window()
    aggregation.  State is O(open windows × roles) and expires with the
    watermark, so the query runs indefinitely without state growth."""
    return (
        transcripts.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", window).alias("win"),
            F.lower(F.trim(F.col("role"))).alias("actor_key"),
        )
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "actor_key",
            "n_turns",
        )
    )


def turn_rate_available_now(
    spark: SparkSession,
    in_dir: str,
    checkpoint_dir: str,
    query_name: str = "linkgraph_turn_rate",
    max_files_per_trigger: int | None = 1,
):
    """Drain ``in_dir`` through the watermarked window aggregation in APPEND
    mode (only watermark-finalized windows are emitted — the late-data
    contract under test in tests/test_streaming.py)."""
    rate = streaming_turn_rate(
        stream_transcripts(spark, in_dir, max_files_per_trigger)
    )
    q = (
        rate.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def ingest_to_parquet(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = 1,
):
    """Durable production sink: edge-key DELTAS appended to a parquet
    directory under the file sink's ``_spark_metadata`` transaction log —
    a batch is recorded in the log only after its files are committed, so
    a killed/restarted query never duplicates or drops a delta
    (exactly-once file sink, the durable twin of the memory-sink tests).

    The parquet file sink is append-only, so the running edge WEIGHTS are
    not maintained here: they are ``derive.edge_key_counts`` over the
    delta log (one combinable batch groupBy, the input of
    ``derive.build_vertices``/``build_edges``), which keeps the streaming
    side stateless beyond the pairing state and the sink idempotent."""
    keys = streaming_edge_keys(
        stream_transcripts(spark, in_dir, max_files_per_trigger)
    )
    q = (
        keys.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def ingest_available_now(
    spark: SparkSession,
    in_dir: str,
    checkpoint_dir: str,
    query_name: str = "linkgraph_ingest",
    max_files_per_trigger: int | None = 1,
):
    """Drain everything currently in ``in_dir`` through the stateful
    pipeline into an in-memory table ``query_name``, then return the
    finished StreamingQuery.  Complete mode keeps the memory table exactly
    the running edge table (test-friendly); production swaps the sink for
    an update-mode merge into parquet/kafka.  The state-store checkpoint
    (``checkpoint_dir``) makes the stream resumable either way."""
    counts = edge_key_counts(
        streaming_edge_keys(
            stream_transcripts(spark, in_dir, max_files_per_trigger)
        )
    )
    q = (
        counts.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def streaming_dedup(
    transcripts: DataFrame, watermark: str = "30 seconds"
) -> DataFrame:
    """Watermark-bounded exact dedup of the turn stream on
    (conv_id, turn_idx) — ingestion hygiene for at-least-once upstream
    delivery (log shippers replay files; the graph must not double-count
    a turn).

    ``dropDuplicatesWithinWatermark`` keeps one state row per key only
    until the watermark passes the key's event time, so state is
    O(keys inside the watermark horizon), not O(all keys ever seen) —
    the difference between a query that runs forever and one that OOMs:
    a plain streaming ``dropDuplicates`` would pin every key forever.
    Replays beyond the horizon are upstream contract violations by
    definition (the same bound every exactly-once ingest pipeline
    documents)."""
    return transcripts.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["conv_id", "turn_idx"]
    )


def dedup_available_now(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = 1,
):
    """Drain ``in_dir`` through the watermarked dedup in append mode into
    the exactly-once parquet file sink (the memory sink cannot recover
    from a checkpoint); a killed/restarted drain never duplicates or
    drops a row — at-least-once upstream becomes exactly-once on disk."""
    ded = streaming_dedup(stream_transcripts(spark, in_dir, max_files_per_trigger))
    q = (
        ded.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def streaming_sessions(
    transcripts: DataFrame,
    gap: str = "5 minutes",
    watermark: str = "30 seconds",
) -> DataFrame:
    """Event-time session windows per conversation (§2.11): Spark's native
    ``session_window`` merges turns into one session while consecutive
    events are within ``gap`` of each other — the streaming twin of the
    batch gap-based sessionization (relational.q_sessionize), running on
    the engine's built-in session-window state store instead of a
    lag/cumsum window pass.  In append mode a session row is emitted
    exactly once, when the watermark passes session end + gap; state is
    O(open sessions) and expires with the watermark, so the query runs
    indefinitely.  Output (conv_id, sess_start, sess_end, n_turns,
    n_actors)."""
    return (
        transcripts.withWatermark("ts", watermark)
        .groupBy("conv_id", F.session_window("ts", gap).alias("sess"))
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.approx_count_distinct("role").alias("n_actors"),
        )
        .select(
            "conv_id",
            F.col("sess.start").alias("sess_start"),
            F.col("sess.end").alias("sess_end"),
            "n_turns",
            "n_actors",
        )
    )


def sessions_available_now(
    spark: SparkSession,
    in_dir: str,
    checkpoint_dir: str,
    gap: str = "5 minutes",
    query_name: str = "linkgraph_sessions",
    max_files_per_trigger: int | None = 1,
):
    """Drain ``in_dir`` through the session-window aggregation in APPEND
    mode (only watermark-finalized sessions are emitted)."""
    sess = streaming_sessions(
        stream_transcripts(spark, in_dir, max_files_per_trigger), gap
    )
    q = (
        sess.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


# --------------------------------------------------------------------------
# driver gate row: batch-replay certification of the exactly-once file sink
# --------------------------------------------------------------------------

def q_streaming_sink_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gateable end-to-end certification of the streaming path
    (VERDICT r04 "Next round" #5): project the ``events`` table into the
    transcript landing shape, land it as three mtime-ordered parquet files,
    drain them through the stateful pairing into the exactly-once parquet
    file sink (``ingest_to_parquet``: three availableNow micro-batches under
    a ``_spark_metadata`` transaction log), then read the sink back as a
    BATCH DataFrame and re-derive the weighted edge counts.  The DuckDB
    oracle computes the same counts straight from the ``events`` view, so a
    hash-green row certifies stream == batch THROUGH the durable sink, not
    just in memory.

    Landing projection (deterministic, SQL-expressible):
      conv_id  = cast(user_id as string)
      turn_idx = row_number() over (partition by user_id order by ts,
                 event_id) - 1
      role     = event_type                    (already lowercase)
      tool     = 'tool:'||event_type when event_id % 5 = 0 else NULL
    Each conversation lands wholly inside one bucket file (user_id % 3), so
    the append-only in-order landing contract holds by construction; the
    cross-batch straddle path is covered by tests/test_streaming.py.

    Scale posture: the landing write is a plain partitioned parquet write,
    pairing state is O(active conversations), the sink is append-only with
    log-gated commits, and the read-back count is one combinable groupBy
    over the delta log — each leg is the production shape.  Output is
    bounded by the (event_type x event_type) vocabulary, not the row count.
    """
    import os
    import shutil
    import tempfile
    import time

    from pyspark.sql import Window

    from .io import load_table

    base = tempfile.mkdtemp(prefix="lg_sinkgate_")
    in_dir = os.path.join(base, "landing")
    out_dir = os.path.join(base, "sink")
    ck_dir = os.path.join(base, "ckpt")
    os.makedirs(in_dir)

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = e.select(
        F.col("user_id").cast("string").alias("conv_id"),
        (F.row_number().over(w) - F.lit(1)).cast("int").alias("turn_idx"),
        F.col("event_type").alias("role"),
        F.col("props").alias("text"),
        F.when(
            F.col("event_id") % 5 == 0,
            F.concat(F.lit("tool:"), F.col("event_type")),
        ).alias("tool"),
        F.col("ts"),
        (F.col("user_id") % 3).cast("int").alias("bucket"),
    )
    now = time.time()
    try:
        for k in range(3):
            tmp = os.path.join(base, f"_b{k}")
            t.where(F.col("bucket") == k).drop("bucket").coalesce(1).write.mode(
                "overwrite"
            ).parquet(tmp)
            src = next(
                os.path.join(tmp, f_)
                for f_ in os.listdir(tmp)
                if f_.endswith(".parquet")
            )
            dst = os.path.join(in_dir, f"p{k}.parquet")
            shutil.copyfile(src, dst)
            # strictly increasing mtimes pin the file-source processing order
            os.utime(dst, (now + 60 * k, now + 60 * k))
            shutil.rmtree(tmp)

        ingest_to_parquet(spark, in_dir, out_dir, ck_dir)
    finally:
        # The landing files, _b* staging dirs and the stream checkpoint are
        # dead once ingest_to_parquet returns (or fails): every gate
        # invocation otherwise leaks a full projected copy of the events
        # table to /tmp (ADVICE r05 #1).  Only the sink dir must outlive
        # the call — the returned DataFrame reads it lazily.
        shutil.rmtree(in_dir, ignore_errors=True)
        shutil.rmtree(ck_dir, ignore_errors=True)
        for k in range(3):
            shutil.rmtree(os.path.join(base, f"_b{k}"), ignore_errors=True)

    return (
        spark.read.parquet(out_dir)
        .groupBy("src_key", "dst_key", "etype")
        .agg(F.count(F.lit(1)).alias("w"))
    )


SQL_STREAMING_SINK_COUNTS = """
WITH t AS (
  SELECT CAST(user_id AS VARCHAR) AS conv_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
             AS turn_idx,
         event_type AS role,
         CASE WHEN event_id % 5 = 0 THEN 'tool:' || event_type END AS tool
  FROM events
), turn_e AS (
  SELECT role AS src_key,
         lead(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS dst_key,
         'turn' AS etype
  FROM t
), tool_e AS (
  SELECT role AS src_key, tool AS dst_key, 'tool' AS etype
  FROM t WHERE tool IS NOT NULL
)
SELECT src_key, dst_key, etype, count(*) AS w
FROM (SELECT * FROM turn_e WHERE dst_key IS NOT NULL
      UNION ALL SELECT * FROM tool_e) u
GROUP BY 1, 2, 3
"""


def registry():
    """Driver-gate rows for the streaming layer (name -> (fn, oracle))."""
    return {
        "streaming_sink_counts": (
            q_streaming_sink_counts,
            SQL_STREAMING_SINK_COUNTS,
        ),
    }
