"""Graph derivation tests: determinism, ordering invariance, golden edges."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from linkgraph.derive import build_graph, build_vertices, dense_ids, edge_keys
from linkgraph.io import TRANSCRIPT_SCHEMA
from linkgraph.synth import micro_transcripts, synth_transcripts, synth_transcripts_pdf

from .conftest import edges_numpy


def _edge_set(graph):
    vk = {r["vid"]: (r["vkey"], r["vtype"]) for r in graph.vertices.collect()}
    return {
        (vk[r["src"]], vk[r["dst"]], r["etype"], r["w"])
        for r in graph.edges.collect()
    }


def test_synth_deterministic():
    a = synth_transcripts_pdf(n_conversations=30, seed=42)
    b = synth_transcripts_pdf(n_conversations=30, seed=42)
    pd.testing.assert_frame_equal(a, b)
    c = synth_transcripts_pdf(n_conversations=30, seed=7)
    assert not a.equals(c)


def test_synth_invariants():
    pdf = synth_transcripts_pdf(n_conversations=40, seed=42)
    # (conv_id, turn_idx) unique; ts strictly increasing per conv
    assert not pdf.duplicated(["conv_id", "turn_idx"]).any()
    g = pdf.sort_values(["conv_id", "turn_idx"]).groupby("conv_id")["ts"]
    assert (g.diff().dropna() > pd.Timedelta(0)).all()
    # text is the deterministic per-turn payload (BASELINE per-row invariant)
    row = pdf.iloc[0]
    assert row["text"] == f"{row['conv_id']}:{row['turn_idx']}:{row['role']}"


def test_row_order_invariance(spark):
    """The derived edge set must be invariant to physical input order."""
    base = synth_transcripts(spark, n_conversations=40, seed=42)
    shuffled = base.orderBy(F.xxhash64("text", F.lit(123)))
    sorted_ = base.orderBy("conv_id", "turn_idx")
    g1, g2 = build_graph(shuffled), build_graph(sorted_)
    assert _edge_set(g1) == _edge_set(g2)


def test_vid_deterministic_and_dense(spark):
    t = synth_transcripts(spark, n_conversations=40, seed=42)
    ek = edge_keys(t)
    v1 = {(r["vkey"], r["vtype"]): r["vid"] for r in build_vertices(ek).collect()}
    v2 = {(r["vkey"], r["vtype"]): r["vid"] for r in build_vertices(ek).collect()}
    assert v1 == v2
    vids = sorted(v1.values())
    assert vids == list(range(len(vids)))
    # key-ordered: vid i is the i-th vertex in (vtype, vkey) order
    by_key = sorted(v1, key=lambda k: (k[1], k[0]))
    assert [v1[k] for k in by_key] == vids


def test_vid_distributed_matches_contract(spark):
    """Vids assigned across many range partitions keep the contract:
    deterministic, dense, and the same key -> vid map as a single partition."""
    t = synth_transcripts(spark, n_conversations=40, seed=42)
    ek = edge_keys(t)

    def vid_map(n_parts):
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(n_parts))
        try:
            return {(r["vkey"], r["vtype"]): r["vid"] for r in build_vertices(ek).collect()}
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)

    vd1, vd2 = vid_map(16), vid_map(16)
    assert vd1 == vd2  # deterministic
    vids = sorted(vd1.values())
    assert vids == list(range(len(vids)))  # dense
    assert vd1 == vid_map(1)  # same keys and vids as the one-partition order


def _window_ids(keys, *cols):
    w = Window.orderBy(*cols)
    return keys.select(*keys.columns, (F.row_number().over(w) - 1).cast("long").alias("vid"))


@pytest.mark.parametrize("aqe", ["true", "false"])
@pytest.mark.parametrize("n_parts", [1, 4, 64])
def test_dense_ids_equals_global_window(spark, n_parts, aqe):
    """dense_ids == row_number() OVER (ORDER BY cols) - 1 at any range
    partition count (64 exceeds every key count here) with AQE on or off."""
    typed = spark.createDataFrame(
        [(f"k{i % 13}", "tool" if i % 3 else "actor") for i in range(40)],
        "vkey string, vtype string",
    ).distinct()
    numeric = spark.range(0, 30).select(((F.col("id") * 7) % 30).alias("did"))
    single = spark.createDataFrame([("only",)], "vkey string")
    empty = spark.createDataFrame([], "vkey string")
    cases = [
        (typed, ("vtype", "vkey")),
        (numeric, ("did",)),
        (single, ("vkey",)),
        (empty, ("vkey",)),
    ]
    confs = {"spark.sql.shuffle.partitions": str(n_parts), "spark.sql.adaptive.enabled": aqe}
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        for keys, cols in cases:
            got = sorted(tuple(r) for r in dense_ids(keys, *cols).collect())
            want = sorted(tuple(r) for r in _window_ids(keys, *cols).collect())
            assert got == want, cols
            if cols == ("did",):
                assert dict(got)[9] == 9 and dict(got)[10] == 10  # numeric order
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_text_round_trip(tmp_path, spark):
    """Per-turn text equality must survive an engine round-trip."""
    t = synth_transcripts(spark, n_conversations=20, seed=42)
    p = str(tmp_path / "t.parquet")
    t.write.parquet(p)
    back = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(p)
    key = ["conv_id", "turn_idx"]
    a = t.select(*key, "text").toPandas().sort_values(key).reset_index(drop=True)
    b = back.select(*key, "text").toPandas().sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_golden_dup_self_edges(spark):
    """dup_self: (A,A,B,A,B) + tool00 everywhere (FIXTURES.md §3)."""
    g = build_graph(micro_transcripts(spark, "dup_self"))
    es = _edge_set(g)
    a, b, tool = ("a", "actor"), ("b", "actor"), ("tool00", "tool")
    assert (a, a, "turn", 1.0) in es          # self-loop kept in edge table
    assert (a, b, "turn", 2.0) in es          # duplicate collapsed to w=2
    assert (b, a, "turn", 1.0) in es
    assert (a, tool, "tool", 3.0) in es       # A had 3 turns with tool00
    assert (b, tool, "tool", 2.0) in es
    assert len(es) == 5


def test_golden_tri3_edges(spark):
    g = build_graph(micro_transcripts(spark, "tri3"))
    es = _edge_set(g)
    a, b, c = ("a", "actor"), ("b", "actor"), ("c", "actor")
    assert es == {(a, b, "turn", 1.0), (b, c, "turn", 1.0), (c, a, "turn", 1.0)}


def test_degrees_and_dangling(spark):
    g = build_graph(micro_transcripts(spark, "path4"))
    deg = {r["vid"]: (r["out_deg"], r["in_deg"]) for r in g.degrees.collect()}
    vk = {r["vkey"]: r["vid"] for r in g.vertices.collect()}
    assert deg[vk["a"]] == (1, 0)
    assert deg[vk["d"]] == (0, 1)  # dangling


def test_degree_oracle_vs_numpy(spark):
    g = build_graph(synth_transcripts(spark, n_conversations=40, seed=42))
    src, dst, w, n = edges_numpy(g)
    out = np.zeros(n, np.int64)
    np.add.at(out, src, 1)
    inn = np.zeros(n, np.int64)
    np.add.at(inn, dst, 1)
    for r in g.degrees.collect():
        assert (r["out_deg"], r["in_deg"]) == (out[r["vid"]], inn[r["vid"]])
