"""Streaming ingestion (linkgraph/streaming.py): the stateful
consecutive-turn pairing must reproduce the batch derivation exactly, even
when conversations are split across micro-batches."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from linkgraph.derive import edge_keys
from linkgraph.streaming import ingest_available_now
from linkgraph.synth import synth_transcripts


@pytest.fixture
def landing_dirs():
    in_dir = tempfile.mkdtemp(prefix="lg_stream_in_")
    ck_dir = tempfile.mkdtemp(prefix="lg_stream_ck_")
    yield in_dir, ck_dir
    shutil.rmtree(in_dir, ignore_errors=True)
    shutil.rmtree(ck_dir, ignore_errors=True)


def test_streaming_counts_equal_batch_derivation(spark, landing_dirs):
    in_dir, ck_dir = landing_dirs
    t = synth_transcripts(spark, n_conversations=30, seed=42).orderBy(
        "conv_id", "turn_idx"
    )
    pdf = t.toPandas()

    # three files SPLITTING conversations mid-stream: file boundaries cut
    # straight through the row ranges, so many convs have turns in two
    # files -> the cross-batch pair must come from the conv state, not the
    # in-batch window.  Per-conv turn_idx stays nondecreasing across files
    # (the documented append-log contract).
    n = len(pdf)
    cuts = [0, n // 3, 2 * n // 3, n]
    for i in range(3):
        chunk = pdf.iloc[cuts[i]:cuts[i + 1]]
        spark.createDataFrame(chunk).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(in_dir, f"batch_{i}")
        )
    # flatten: the file source reads a directory of parquet files
    flat = []
    for i in range(3):
        d = os.path.join(in_dir, f"batch_{i}")
        for f_ in os.listdir(d):
            if f_.endswith(".parquet"):
                flat.append((os.path.join(d, f_), os.path.join(in_dir, f"part_{i}.parquet")))
    import time as _time

    now = _time.time()
    for k, (src, dst) in enumerate(flat):
        shutil.copyfile(src, dst)
        # FileStreamSource orders micro-batches by modification time; same-
        # second copies tie, so pin strictly increasing mtimes (the real
        # landing pattern: files arrive seconds apart).
        os.utime(dst, (now + k, now + k))
    for i in range(3):
        shutil.rmtree(os.path.join(in_dir, f"batch_{i}"))

    q = ingest_available_now(
        spark, in_dir, ck_dir, query_name="t_stream_counts", max_files_per_trigger=1
    )
    assert q.lastProgress is not None

    got = {
        (r["src_key"], r["dst_key"], r["etype"]): r["w"]
        for r in spark.table("t_stream_counts").collect()
    }
    want = {
        (r["src_key"], r["dst_key"], r["etype"]): float(r["w"])
        for r in edge_keys(t)
        .groupBy("src_key", "dst_key", "etype")
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
        .collect()
    }
    assert got == want


def _edge_counts_oracle(t):
    return {
        (r["src_key"], r["dst_key"], r["etype"]): float(r["w"])
        for r in edge_keys(t)
        .groupBy("src_key", "dst_key", "etype")
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
        .collect()
    }


def test_streaming_resume_from_checkpoint(spark, landing_dirs):
    """Kill/restart twin of the batch resume property (streaming.py's
    resumability claim): drain half the landing files, let the query
    terminate, land the rest, restart from the SAME state-store checkpoint.
    The per-conversation pairing state AND the running counts must survive
    the restart — final counts equal the batch derivation, including the
    consecutive-turn pair that straddles the stop boundary."""
    import time as _time

    in_dir, ck_dir = landing_dirs
    t = synth_transcripts(spark, n_conversations=20, seed=7).orderBy(
        "conv_id", "turn_idx"
    )
    pdf = t.toPandas()
    n = len(pdf)
    # cut INSIDE a conversation so the restart boundary splits it: the
    # boundary pair can only come from state restored from the checkpoint.
    cut = n // 2
    while cut < n and pdf.iloc[cut - 1]["conv_id"] != pdf.iloc[cut]["conv_id"]:
        cut += 1
    assert cut < n
    now = _time.time()

    def land(chunk, name, mtime):
        tmp = os.path.join(in_dir, f"_stage_{name}")
        spark.createDataFrame(chunk).coalesce(1).write.mode("overwrite").parquet(tmp)
        src = next(
            os.path.join(tmp, f_) for f_ in os.listdir(tmp) if f_.endswith(".parquet")
        )
        dst = os.path.join(in_dir, f"{name}.parquet")
        shutil.copyfile(src, dst)
        os.utime(dst, (mtime, mtime))
        shutil.rmtree(tmp)

    land(pdf.iloc[:cut], "part_0", now)
    q1 = ingest_available_now(
        spark, in_dir, ck_dir, query_name="t_resume_a", max_files_per_trigger=1
    )
    assert not q1.isActive  # availableNow drained and terminated ("killed")
    partial = {
        (r["src_key"], r["dst_key"], r["etype"]): r["w"]
        for r in spark.table("t_resume_a").collect()
    }
    assert partial == _edge_counts_oracle(
        spark.createDataFrame(pdf.iloc[:cut])
    ), "pre-restart counts must match the batch derivation of the first half"

    land(pdf.iloc[cut:], "part_1", now + 60)
    q2 = ingest_available_now(
        spark, in_dir, ck_dir, query_name="t_resume_b", max_files_per_trigger=1
    )
    assert not q2.isActive
    got = {
        (r["src_key"], r["dst_key"], r["etype"]): r["w"]
        for r in spark.table("t_resume_b").collect()
    }
    assert got == _edge_counts_oracle(t)
    # the restart really did new work (file-source log skipped part_0,
    # processed part_1) and the totals grew past the pre-restart table
    assert sum(got.values()) > sum(partial.values())


def test_streaming_windowed_agg_watermark_drops_late_rows(spark, landing_dirs):
    """Watermarked tumbling-window turn rate (streaming.streaming_turn_rate,
    APPEND mode): the §2.11 late-data contract AS SPARK GUARANTEES IT —
    (a) a window row is emitted exactly once, with the on-time counts, when
    the watermark passes its end; (b) a still-open window is withheld;
    (c) a row arriving after its window was finalized must NOT mutate the
    already-emitted row.  (Dropping very-late rows outright is documented
    best-effort in Spark — "may or may not be aggregated" — so the late row
    is allowed to surface as its own supplementary emission, measured here,
    but never to corrupt a finalized count.)

    Batch 0 carries ts up to 250s (watermark -> 220s at batch end); batch 1
    carries a LATE row (ts=15s, window [0,60) already finalized) plus a
    fresh row at 400s."""
    import datetime as _dt
    import time as _time

    in_dir, ck_dir = landing_dirs
    base = _dt.datetime(2026, 1, 1, 0, 0, 0)

    def rows(specs):
        return spark.createDataFrame(
            [
                (conv, idx, role, "txt", None, base + _dt.timedelta(seconds=s))
                for conv, idx, role, s in specs
            ],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp",
        )

    def land(df, name, mtime):
        tmp = os.path.join(in_dir, f"_stage_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        src = next(
            os.path.join(tmp, f_) for f_ in os.listdir(tmp) if f_.endswith(".parquet")
        )
        dst = os.path.join(in_dir, f"{name}.parquet")
        shutil.copyfile(src, dst)
        os.utime(dst, (mtime, mtime))
        shutil.rmtree(tmp)

    now = _time.time()
    land(
        rows([("c0", 0, "A", 10), ("c1", 0, "A", 30), ("c0", 1, "B", 70), ("c0", 2, "A", 250)]),
        "f0",
        now,
    )
    land(rows([("c2", 0, "B", 15), ("c2", 1, "A", 400)]), "f1", now + 60)

    from linkgraph.streaming import turn_rate_available_now

    q = turn_rate_available_now(
        spark, in_dir, ck_dir, query_name="t_turn_rate", max_files_per_trigger=1
    )
    assert not q.isActive
    rows_out = spark.table("t_turn_rate").collect()
    from collections import defaultdict

    emissions = defaultdict(list)
    for r in rows_out:
        emissions[(r["win_start"], r["actor_key"])].append(r["n_turns"])
    w0 = base  # [0, 60)
    w1 = base + _dt.timedelta(seconds=60)  # [60, 120)
    # (a) finalized windows emitted exactly once with the ON-TIME counts —
    # the late ts=15s 'b' row must not have merged into a finalized row
    assert emissions[(w0, "a")] == [2]
    assert emissions[(w1, "b")] == [1]
    # (c) the late row either vanished or surfaced as its own supplementary
    # emission (Spark's best-effort drop) — never a corrupted merge
    assert emissions.get((w0, "b"), []) in ([], [1])
    # (b) the still-open window around ts=400s was withheld in append mode
    w6 = base + _dt.timedelta(seconds=360)
    assert (w6, "a") not in emissions


def test_stream_static_broadcast_join_equals_batch(spark, landing_dirs):
    """Stream-static enrichment (streaming.streaming_enriched_edges): the
    streamed edge deltas left-joined to a static actor dimension must equal
    the batch derivation joined to the same dim — including edges whose
    source actor is absent from the dim (NULL tier survives the join)."""
    in_dir, ck_dir = landing_dirs
    t = synth_transcripts(spark, n_conversations=20, seed=7).orderBy(
        "conv_id", "turn_idx"
    )
    pdf = t.toPandas()
    n = len(pdf)
    import time as _time

    now = _time.time()
    for i, (lo, hi) in enumerate([(0, n // 2), (n // 2, n)]):
        tmp = os.path.join(in_dir, f"_b{i}")
        spark.createDataFrame(pdf.iloc[lo:hi]).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        src = next(
            os.path.join(tmp, f_) for f_ in os.listdir(tmp) if f_.endswith(".parquet")
        )
        dst = os.path.join(in_dir, f"part_{i}.parquet")
        shutil.copyfile(src, dst)
        os.utime(dst, (now + i, now + i))
        shutil.rmtree(tmp)

    # static dim: tier for a SUBSET of actors (tool actors untiered -> NULL)
    actors = sorted(
        {r["role"].strip().lower() for r in pdf[["role"]].drop_duplicates().to_dict("records")}
    )
    dim = spark.createDataFrame(
        [(a, "gold" if i % 2 == 0 else "basic") for i, a in enumerate(actors[:-1])],
        "actor_key string, tier string",
    )

    from linkgraph.streaming import (
        stream_transcripts,
        streaming_edge_keys,
        streaming_enriched_edges,
    )

    enriched = streaming_enriched_edges(
        streaming_edge_keys(stream_transcripts(spark, in_dir, 1)), dim
    )
    q = (
        enriched.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_enriched")
        .option("checkpointLocation", ck_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    def counts(rows):
        from collections import Counter

        return Counter(
            (r["src_key"], r["dst_key"], r["etype"], r["src_tier"]) for r in rows
        )

    got = counts(spark.table("t_enriched").collect())
    want = counts(
        edge_keys(t)
        .join(
            F.broadcast(
                dim.select(
                    F.col("actor_key").alias("src_key"),
                    F.col("tier").alias("src_tier"),
                )
            ),
            "src_key",
            "left",
        )
        .collect()
    )
    assert got == want
    assert any(k[3] is None for k in got)  # untiered actor really exercised


def test_parquet_file_sink_exactly_once_across_restart(spark, landing_dirs):
    """Durable sink (streaming.ingest_to_parquet): edge deltas land in a
    parquet dir under the file sink's _spark_metadata log.  Drain, restart
    with no new input (no-op), land one more file, drain again — the delta
    log must equal the batch derivation exactly, with no duplicates from
    the restart."""
    in_dir, ck_dir = landing_dirs
    out_dir = tempfile.mkdtemp(prefix="lg_stream_out_")
    try:
        t = synth_transcripts(spark, n_conversations=15, seed=11).orderBy(
            "conv_id", "turn_idx"
        )
        pdf = t.toPandas()
        n = len(pdf)
        import time as _time

        now = _time.time()

        def land(lo, hi, name, mtime):
            tmp = os.path.join(in_dir, f"_b_{name}")
            spark.createDataFrame(pdf.iloc[lo:hi]).coalesce(1).write.mode(
                "overwrite"
            ).parquet(tmp)
            src = next(
                os.path.join(tmp, f_)
                for f_ in os.listdir(tmp)
                if f_.endswith(".parquet")
            )
            shutil.copyfile(src, os.path.join(in_dir, f"{name}.parquet"))
            os.utime(
                os.path.join(in_dir, f"{name}.parquet"), (mtime, mtime)
            )
            shutil.rmtree(tmp)

        from linkgraph.streaming import ingest_to_parquet

        land(0, n // 2, "p0", now)
        ingest_to_parquet(spark, in_dir, out_dir, ck_dir)
        # restart with nothing new: must be a no-op, not a re-append
        ingest_to_parquet(spark, in_dir, out_dir, ck_dir)
        land(n // 2, n, "p1", now + 60)
        ingest_to_parquet(spark, in_dir, out_dir, ck_dir)

        got = (
            spark.read.parquet(out_dir)
            .groupBy("src_key", "dst_key", "etype")
            .agg(F.count(F.lit(1)).cast("double").alias("w"))
        )
        assert _edge_counts_oracle(t) == {
            (r["src_key"], r["dst_key"], r["etype"]): float(r["w"])
            for r in got.collect()
        }
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


def test_jsonl_transcript_source(spark, landing_dirs):
    """io.load_transcripts(fmt='jsonl') reads newline-delimited JSON with
    the DECLARED schema and matches the parquet load row-for-row."""
    in_dir, _ = landing_dirs
    t = synth_transcripts(spark, n_conversations=8, seed=3)
    pq = os.path.join(in_dir, "pq")
    js = os.path.join(in_dir, "js")
    t.write.mode("overwrite").parquet(pq)
    t.selectExpr(
        "conv_id", "turn_idx", "role", "text", "tool",
        "date_format(ts, \"yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX\") AS ts",
    ).write.mode("overwrite").json(js)

    from linkgraph.io import load_transcripts

    a = load_transcripts(spark, pq, fmt="parquet")
    b = load_transcripts(spark, js, fmt="jsonl")
    assert a.schema == b.schema
    key = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    assert sorted(map(tuple, a.select(key).collect())) == sorted(
        map(tuple, b.select(key).collect())
    )


def test_stream_stream_interval_join_equals_batch(spark, landing_dirs):
    """Stream-stream interval join (streaming.streaming_tool_responses):
    tool invocations paired with following turns within the gap must equal
    the batch join over the same files — including pairs whose two sides
    arrive in DIFFERENT micro-batches (buffered in join state until the
    match lands)."""
    import datetime as _dt
    import time as _time

    in_dir, ck_dir = landing_dirs
    base = _dt.datetime(2026, 1, 1, 0, 0, 0)

    def rows(specs):
        return spark.createDataFrame(
            [
                (conv, i, role, "txt", tool, base + _dt.timedelta(seconds=s))
                for i, (conv, role, tool, s) in enumerate(specs)
            ],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp",
        )

    def land(df, name, mtime):
        tmp = os.path.join(in_dir, f"_stage_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        src = next(
            os.path.join(tmp, f_) for f_ in os.listdir(tmp) if f_.endswith(".parquet")
        )
        dst = os.path.join(in_dir, f"{name}.parquet")
        shutil.copyfile(src, dst)
        os.utime(dst, (mtime, mtime))
        shutil.rmtree(tmp)

    # batch 0: invocation at 10s + an in-batch response at 40s
    # batch 1: a CROSS-BATCH response at 70s (within the 2-min gap of the
    #          10s invocation), a too-late response at 200s, an invocation
    #          at 180s answered at 190s, and an unrelated conv
    all_rows = [
        ("c0", "user", "search", 10),
        ("c0", "assistant", None, 40),
        ("c0", "user", None, 70),
        ("c0", "assistant", None, 200),
        ("c1", "user", "calc", 180),
        ("c1", "assistant", None, 190),
        ("c2", "user", None, 30),
    ]
    now = _time.time()
    land(rows(all_rows[:2]), "f0", now)
    land(rows(all_rows[2:]), "f1", now + 60)

    from linkgraph.streaming import stream_transcripts, streaming_tool_responses

    joined = streaming_tool_responses(stream_transcripts(spark, in_dir, 1))
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_ssjoin")
        .option("checkpointLocation", ck_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = {
        (r["conv_id"], r["tool_key"], r["resp_actor"], r["resp_ts"])
        for r in spark.table("t_ssjoin").collect()
    }
    want = {
        (r["conv_id"], r["tool_key"], r["resp_actor"], r["resp_ts"])
        for r in streaming_tool_responses(rows(all_rows)).collect()
    }
    assert got == want
    # the cross-batch pair (search@10s -> user@70s) really exercised state
    assert ("c0", "search", "user", base + _dt.timedelta(seconds=70)) in got
    # the too-late 200s response is excluded by the interval bound
    assert not any(r[3] == base + _dt.timedelta(seconds=200) for r in got)


def test_streaming_dedup_drops_replayed_turns(spark, landing_dirs):
    """Watermarked exact dedup (at-least-once upstream -> exactly-once
    downstream): replayed turn rows within the watermark horizon are
    dropped; output == batch distinct on (conv_id, turn_idx); a restart
    from the checkpoint re-emits nothing."""
    from linkgraph.streaming import dedup_available_now

    in_dir, ck_dir = landing_dirs
    t = synth_transcripts(spark, n_conversations=20, seed=11)
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    t = t.select(*cols)

    # file 0: the full batch; file 1: a replay of ~half of it (same rows)
    t.coalesce(1).write.mode("overwrite").parquet(os.path.join(in_dir, "f0"))
    replay = t.where(F.col("turn_idx") % 2 == 0)
    replay.coalesce(1).write.mode("append").parquet(os.path.join(in_dir, "f0"))

    out_dir = os.path.join(in_dir, "deduped")
    dedup_available_now(spark, os.path.join(in_dir, "f0"), out_dir, ck_dir)
    got = spark.read.parquet(out_dir).select("conv_id", "turn_idx").collect()
    keys = [(r["conv_id"], r["turn_idx"]) for r in got]
    assert len(keys) == len(set(keys)), "duplicates survived the dedup"
    exp = {
        (r["conv_id"], r["turn_idx"])
        for r in t.select("conv_id", "turn_idx").distinct().collect()
    }
    assert set(keys) == exp

    # restart with NO new input: the file-sink log guarantees nothing is
    # re-emitted or duplicated
    dedup_available_now(spark, os.path.join(in_dir, "f0"), out_dir, ck_dir)
    again = spark.read.parquet(out_dir).select("conv_id", "turn_idx").collect()
    assert sorted((r["conv_id"], r["turn_idx"]) for r in again) == sorted(keys)


def test_streaming_session_windows_merge_across_batches(spark, landing_dirs):
    """Native event-time session windows (streaming.streaming_sessions,
    APPEND mode): (a) a session row is emitted exactly once, when the
    watermark passes session end + gap; (b) a session whose turns arrive
    in DIFFERENT micro-batches merges through the session-window state
    store into one row; (c) a still-open session is withheld.  Gap 2 min,
    watermark 30 s."""
    import datetime as _dt
    import time as _time

    in_dir, ck_dir = landing_dirs
    base = _dt.datetime(2026, 1, 1, 0, 0, 0)

    def rows(specs):
        return spark.createDataFrame(
            [
                (conv, idx, role, "txt", None, base + _dt.timedelta(seconds=s))
                for conv, idx, role, s in specs
            ],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp",
        )

    def land(df, name, mtime):
        tmp = os.path.join(in_dir, f"_stage_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        src = next(
            os.path.join(tmp, f_)
            for f_ in os.listdir(tmp)
            if f_.endswith(".parquet")
        )
        dst = os.path.join(in_dir, f"{name}.parquet")
        shutil.copyfile(src, dst)
        os.utime(dst, (mtime, mtime))
        shutil.rmtree(tmp)

    now = _time.time()
    # batch 0: c0 has two turns 60s apart (one session), c2 opens a session
    # near the batch's watermark frontier, c9 advances the watermark to 970s
    land(
        rows(
            [
                ("c0", 0, "A", 0),
                ("c0", 1, "B", 60),
                ("c1", 0, "A", 30),
                ("c2", 0, "A", 900),
                ("c9", 0, "A", 1000),
            ]
        ),
        "f0",
        now,
    )
    # batch 1: c2's second turn (990s: inside the open session's window,
    # NOT late vs the 970s watermark) must MERGE into the batch-0 session;
    # c9's 2000s turn advances the watermark to 1970s and stays open
    land(rows([("c2", 1, "B", 990), ("c9", 1, "A", 2000)]), "f1", now + 60)

    from linkgraph.streaming import sessions_available_now

    q = sessions_available_now(
        spark,
        in_dir,
        ck_dir,
        gap="2 minutes",
        query_name="t_sessions",
        max_files_per_trigger=1,
    )
    assert not q.isActive
    out = {
        (r["conv_id"], r["sess_start"]): (r["sess_end"], r["n_turns"], r["n_actors"])
        for r in spark.table("t_sessions").collect()
    }

    def t(s):
        return base + _dt.timedelta(seconds=s)

    # (a) exactly-once finalized sessions with gap-extended ends
    assert out[("c0", t(0))] == (t(180), 2, 2)     # 60s + 120s gap
    assert out[("c1", t(30))] == (t(150), 1, 1)
    # (b) the cross-batch c2 session merged: [900, 990 + 120)
    assert out[("c2", t(900))] == (t(1110), 2, 2)
    assert out[("c9", t(1000))] == (t(1120), 1, 1)
    # (c) c9's 2000s session is still open -> withheld in append mode
    assert ("c9", t(2000)) not in out
    assert len(out) == 4


def test_streaming_ingest_to_warm_pagerank_end_to_end(spark, landing_dirs):
    """Production composition (§2.11 -> §2.10): transcripts stream through
    the stateful pairing into the exactly-once parquet delta log; the graph
    is built FROM THE STREAMED DELTAS and PageRank converges on it; more
    conversations land, the SAME checkpointed stream drains the delta, and
    the engine warm-starts from the previous ranks — reaching the
    batch-derived fixed point in fewer supersteps than a cold start.
    Proves streaming ingest, the durable sink, graph build, the superstep
    engine, and incremental reconvergence compose end-to-end."""
    import numpy as np

    from linkgraph.derive import (
        GraphTables,
        build_degrees,
        build_edges,
        build_graph,
        build_vertices,
        edge_key_counts,
    )
    from linkgraph.incremental import ranks_by_key, warm_pagerank_init
    from linkgraph.pregel import GraphContext, PageRankProgram, run_program
    from linkgraph.streaming import ingest_to_parquet

    in_dir, ck_dir = landing_dirs
    out_dir = tempfile.mkdtemp(prefix="lg_e2e_out_")
    try:
        base = synth_transcripts(spark, n_conversations=40, seed=21).orderBy(
            "conv_id", "turn_idx"
        )
        extra = synth_transcripts(spark, n_conversations=5, seed=22).withColumn(
            "conv_id", F.concat(F.lit("x"), F.col("conv_id"))
        )
        import time as _time

        now = _time.time()

        def land(df, name, mtime):
            tmp = os.path.join(in_dir, f"_b_{name}")
            df.coalesce(1).write.mode("overwrite").parquet(tmp)
            src = next(
                os.path.join(tmp, f_)
                for f_ in os.listdir(tmp)
                if f_.endswith(".parquet")
            )
            shutil.copyfile(src, os.path.join(in_dir, f"{name}.parquet"))
            os.utime(os.path.join(in_dir, f"{name}.parquet"), (mtime, mtime))
            shutil.rmtree(tmp)

        def graph_from_deltas():
            ekeys = spark.read.parquet(out_dir).select(
                "src_key", "dst_key", "etype"
            )
            counts = edge_key_counts(ekeys)
            vertices = build_vertices(counts)
            edges = build_edges(counts, vertices)
            return GraphTables(
                vertices=vertices,
                edges=edges,
                degrees=build_degrees(edges, vertices),
            )

        def key_ranks(g, state):
            return {
                (r["vtype"], r["vkey"]): r["rank"]
                for r in ranks_by_key(g, state).collect()
            }

        # phase 1: stream the base corpus, converge on the streamed graph
        land(base.toDF(*base.columns), "f0", now)
        ingest_to_parquet(spark, in_dir, out_dir, ck_dir)
        g0 = graph_from_deltas()
        ctx0 = GraphContext.build(g0, 8)
        cold0 = run_program(ctx0, PageRankProgram(tol=1e-6), max_iter=200)
        assert cold0.converged
        prev = key_ranks(g0, cold0.state)
        prev_df = ranks_by_key(g0, cold0.state)

        # streamed graph == batch graph (by actor/tool key ranks)
        gb = build_graph(base)
        ctxb = GraphContext.build(gb, 8)
        coldb = run_program(ctxb, PageRankProgram(tol=1e-6), max_iter=200)
        ref = key_ranks(gb, coldb.state)
        assert set(prev) == set(ref)
        np.testing.assert_allclose(
            [prev[k] for k in sorted(prev)],
            [ref[k] for k in sorted(prev)],
            atol=2e-5,
        )
        ctxb.unpersist()

        # phase 2: more conversations land; the SAME stream checkpoint
        # drains only the delta; warm-start on the grown graph
        land(extra.toDF(*extra.columns), "f1", now + 60)
        ingest_to_parquet(spark, in_dir, out_dir, ck_dir)
        g1 = graph_from_deltas()
        ctx1 = GraphContext.build(g1, 8)
        cold1 = run_program(ctx1, PageRankProgram(tol=1e-6), max_iter=200)
        assert cold1.converged
        warm_init = warm_pagerank_init(ctx1, g1, prev_df)
        warm1 = run_program(
            ctx1, PageRankProgram(tol=1e-6), max_iter=200, init_state=warm_init
        )
        assert warm1.converged
        assert warm1.supersteps < cold1.supersteps
        got = key_ranks(g1, warm1.state)
        want = key_ranks(g1, cold1.state)
        assert set(got) == set(want)
        np.testing.assert_allclose(
            [got[k] for k in sorted(got)],
            [want[k] for k in sorted(got)],
            atol=2e-5,
        )
        ctx0.unpersist()
        ctx1.unpersist()
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


def test_sink_time_travel_reads_committed_snapshots(spark, landing_dirs):
    """Snapshot reads over the file sink's _spark_metadata log
    (io.read_sink_as_of): as-of batch 0 returns exactly the first drain's
    rows even after a second drain appended more; as-of the newest batch
    equals the plain directory read; a not-yet-committed batch id raises."""
    import pytest as _pytest

    from linkgraph.io import read_sink_as_of
    from linkgraph.streaming import ingest_to_parquet

    in_dir, ck_dir = landing_dirs
    out_dir = tempfile.mkdtemp(prefix="lg_tt_out_")
    try:
        t = synth_transcripts(spark, n_conversations=12, seed=31).orderBy(
            "conv_id", "turn_idx"
        )
        pdf = t.toPandas()
        import time as _time

        now = _time.time()

        def land(df_p, name, mtime):
            tmp = os.path.join(in_dir, f"_b_{name}")
            spark.createDataFrame(df_p).coalesce(1).write.mode(
                "overwrite"
            ).parquet(tmp)
            src = next(
                os.path.join(tmp, f_)
                for f_ in os.listdir(tmp)
                if f_.endswith(".parquet")
            )
            shutil.copyfile(src, os.path.join(in_dir, f"{name}.parquet"))
            os.utime(os.path.join(in_dir, f"{name}.parquet"), (mtime, mtime))
            shutil.rmtree(tmp)

        half = len(pdf) // 2
        land(pdf.iloc[:half], "f0", now)
        ingest_to_parquet(spark, in_dir, out_dir, ck_dir)
        snap0 = read_sink_as_of(spark, out_dir).collect()
        n0 = len(snap0)
        assert n0 > 0

        land(pdf.iloc[half:], "f1", now + 60)
        ingest_to_parquet(spark, in_dir, out_dir, ck_dir)

        # as-of the FIRST committed batch: exactly the first snapshot
        asof0 = read_sink_as_of(spark, out_dir, batch_id=0).collect()
        assert sorted(map(tuple, asof0)) == sorted(map(tuple, snap0))
        # newest snapshot == plain directory read (the log IS the truth)
        newest = read_sink_as_of(spark, out_dir).collect()
        full = spark.read.parquet(out_dir).collect()
        assert sorted(map(tuple, newest)) == sorted(map(tuple, full))
        assert len(newest) > n0
        with _pytest.raises(ValueError):
            read_sink_as_of(spark, out_dir, batch_id=99)
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


def test_stream_stream_left_outer_join_emits_timeouts(spark, landing_dirs):
    """Left-outer stream-stream interval join: an invocation that never
    gets a response inside the gap must emit exactly one null-response row
    once the watermark passes inv_ts + max_gap — and matched pairs must
    stay identical to the inner join."""
    import datetime as _dt
    import time as _time

    in_dir, ck_dir = landing_dirs
    base = _dt.datetime(2026, 1, 1, 0, 0, 0)

    def rows(specs):
        return spark.createDataFrame(
            [
                (conv, i, role, "txt", tool, base + _dt.timedelta(seconds=s))
                for i, (conv, role, tool, s) in enumerate(specs)
            ],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp",
        )

    def land(df, name, mtime):
        tmp = os.path.join(in_dir, f"_stage_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        src = next(
            os.path.join(tmp, f_)
            for f_ in os.listdir(tmp)
            if f_.endswith(".parquet")
        )
        dst = os.path.join(in_dir, f"{name}.parquet")
        shutil.copyfile(src, dst)
        os.utime(dst, (mtime, mtime))
        shutil.rmtree(tmp)

    # f0: answered invocation (search@10 -> 40) + orphan invocation @20.
    # The watermark pushers MUST be invocations themselves: the global
    # watermark is the min over BOTH withWatermark nodes, so a response-only
    # row would advance resp_ts but leave inv_ts (and state expiry) stuck.
    f0 = [
        ("c0", "user", "search", 10),
        ("c0", "assistant", None, 40),
        ("c3", "user", "orphan_tool", 20),
    ]
    f1 = [("c9", "user", "noop", 600)]
    f2 = [("c9", "user", "noop", 900)]
    now = _time.time()
    land(rows(f0), "f0", now)
    land(rows(f1), "f1", now + 60)
    land(rows(f2), "f2", now + 120)

    from linkgraph.streaming import (
        stream_transcripts,
        streaming_tool_responses,
    )

    joined = streaming_tool_responses(
        stream_transcripts(spark, in_dir, 1), how="leftOuter"
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_ssleft")
        .option("checkpointLocation", ck_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = {
        (r["conv_id"], r["tool_key"], r["inv_ts"], r["resp_actor"], r["resp_ts"])
        for r in spark.table("t_ssleft").collect()
    }
    # exactly: the matched pair, the orphan timeout, and the 600s pusher
    # (expired once the 900s row lifted the watermark to 840s); the 900s
    # pusher is still unexpired at shutdown so it must NOT emit (inv_ts in
    # the key keeps the two pushers distinct).
    t = lambda s_: base + _dt.timedelta(seconds=s_)
    assert got == {
        ("c0", "search", t(10), "assistant", t(40)),
        ("c3", "orphan_tool", t(20), None, None),
        ("c9", "noop", t(600), None, None),
    }
