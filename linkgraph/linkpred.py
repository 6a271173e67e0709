"""Local structure analytics: clustering coefficient, common-neighbor /
Jaccard link prediction, degree distribution (SURVEY.md §2.10 family).

All three are classic link-graph primitives (Watts-Strogatz clustering,
Liben-Nowell/Kleinberg link prediction) expressed as pure Catalyst plans —
equi-joins + hash aggregates, no Python in the loop.

Scale notes (100 TB posture):
- clustering_coefficient reuses the degree-ORIENTED triangle enumeration
  (triangles.py): wedge fan-out is bounded by the low endpoint's degree, so
  hubs generate no wedges and the join is skew-safe.
- jaccard_pairs enumerates wedges through shared neighbors — Σ_n deg(n)²
  grows quadratically at super-hubs, the known cost of common-neighbor
  link prediction.  ``max_deg`` excludes hub intermediaries from candidate
  generation (the standard mitigation: a neighbor shared with everyone
  carries no signal); at production scale set it ~p99 degree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .derive import GraphTables, undirected_simple_edges
from .triangles import count_triangles


def clustering_coefficients(graph: GraphTables) -> DataFrame:
    """Per-vertex local clustering coefficient over the undirected simple
    view: lcc(v) = 2*tri(v) / (deg(v)*(deg(v)-1)); 0 where deg < 2.
    Returns (vid, lcc) for every vertex of the graph."""
    und = undirected_simple_edges(graph.edges)
    deg = (
        und.select(F.col("u").alias("vid"))
        .unionByName(und.select(F.col("v").alias("vid")))
        .groupBy("vid")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    tri = count_triangles(graph)
    try:
        out = (
            graph.vertices.select("vid")
            .join(deg, "vid", "left")
            .join(tri.per_vertex, "vid", "left")
            .select(
                "vid",
                F.when(
                    F.col("deg") >= 2,
                    2.0 * F.coalesce("n_tri", F.lit(0))
                    / (F.col("deg") * (F.col("deg") - 1)),
                )
                .otherwise(F.lit(0.0))
                .alias("lcc"),
            )
            .localCheckpoint()  # per_vertex cache is released on return
        )
    finally:
        tri.unpersist()
    return out


def jaccard_pairs(graph: GraphTables, max_deg: int | None = None) -> DataFrame:
    """Jaccard link-prediction scores for NON-adjacent vertex pairs with at
    least one common neighbor: (p, q, common, jaccard) with p < q,
    jaccard = |N(p)∩N(q)| / |N(p)∪N(q)| over the undirected simple view.

    ``max_deg``: exclude intermediary vertices with degree > max_deg from
    candidate generation (hub mitigation — see module docstring); degrees in
    the Jaccard denominator always use the FULL graph."""
    und = undirected_simple_edges(graph.edges).localCheckpoint()
    adj = und.select(F.col("u").alias("v"), F.col("v").alias("nb")).unionByName(
        und.select(F.col("v").alias("v"), F.col("u").alias("nb"))
    )
    deg = adj.groupBy("v").agg(F.count(F.lit(1)).alias("deg"))

    thru = adj
    if max_deg is not None:
        keep = deg.where(F.col("deg") <= max_deg).select(F.col("v").alias("nb"))
        thru = adj.join(keep, "nb")

    # wedges through a shared neighbor -> candidate pairs (p < q)
    x = thru.select(F.col("nb"), F.col("v").alias("p"))
    y = thru.select(F.col("nb"), F.col("v").alias("q"))
    common = (
        x.join(y, "nb")
        .where(F.col("p") < F.col("q"))
        .groupBy("p", "q")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    # drop pairs that are already edges (u < v matches p < q)
    cand = common.join(
        und.withColumnRenamed("u", "p").withColumnRenamed("v", "q"),
        ["p", "q"],
        "left_anti",
    )
    dp = deg.select(F.col("v").alias("p"), F.col("deg").alias("dp"))
    dq = deg.select(F.col("v").alias("q"), F.col("deg").alias("dq"))
    return (
        cand.join(dp, "p")
        .join(dq, "q")
        .select(
            "p",
            "q",
            "common",
            (F.col("common") / (F.col("dp") + F.col("dq") - F.col("common"))).alias(
                "jaccard"
            ),
        )
    )


def adamic_adar_pairs(graph: GraphTables, max_deg: int | None = None) -> DataFrame:
    """Adamic-Adar link-prediction scores for NON-adjacent pairs:
    AA(p, q) = Σ_{n ∈ N(p)∩N(q)} 1/ln(deg(n)) — common neighbors weighted by
    how selective they are.  Same wedge shape and ``max_deg`` hub knob as
    jaccard_pairs.  (A common neighbor has deg >= 2 by construction, so
    ln(deg) > 0 always.)"""
    und = undirected_simple_edges(graph.edges).localCheckpoint()
    adj = und.select(F.col("u").alias("v"), F.col("v").alias("nb")).unionByName(
        und.select(F.col("v").alias("v"), F.col("u").alias("nb"))
    )
    deg = adj.groupBy("v").agg(F.count(F.lit(1)).alias("deg"))

    thru = adj.join(
        deg.select(F.col("v").alias("nb"), F.col("deg").alias("nb_deg")), "nb"
    )
    if max_deg is not None:
        thru = thru.where(F.col("nb_deg") <= max_deg)

    x = thru.select("nb", "nb_deg", F.col("v").alias("p"))
    y = thru.select(F.col("nb"), F.col("v").alias("q"))
    scores = (
        x.join(y, "nb")
        .where(F.col("p") < F.col("q"))
        .groupBy("p", "q")
        .agg(
            F.count(F.lit(1)).alias("common"),
            F.sum(1.0 / F.log(F.col("nb_deg"))).alias("aa"),
        )
    )
    return scores.join(
        und.withColumnRenamed("u", "p").withColumnRenamed("v", "q"),
        ["p", "q"],
        "left_anti",
    )


def degree_histogram(graph: GraphTables) -> DataFrame:
    """Out-degree distribution over the DISTINCT directed simple edge set:
    (out_deg, n_vertices), zero-out-degree vertices included."""
    ed = graph.edges.select("src", "dst").distinct()
    deg = ed.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    return (
        graph.vertices.select("vid")
        .join(deg.withColumnRenamed("src", "vid"), "vid", "left")
        .select(F.coalesce("out_deg", F.lit(0)).alias("out_deg"))
        .groupBy("out_deg")
        .agg(F.count(F.lit(1)).alias("n_vertices"))
    )


# --------------------------------------------------------------------------
# driver gate rows (events graph, vkey space) + DuckDB oracles
# --------------------------------------------------------------------------

# shared events-graph SQL prelude (mirrors flagship.events_graph; same CTE
# shapes as graph_oracles._GRAPH_CTES, inlined so each oracle is standalone)
_EV_CTES = """
base AS (
  SELECT user_id, event_type, ts, event_id FROM events
), turn AS (
  SELECT event_type AS s,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t
  FROM base
), ek AS (
  SELECT s, t FROM turn WHERE t IS NOT NULL
  UNION ALL
  SELECT 'user:' || CAST(user_id AS VARCHAR) AS s, event_type AS t FROM base
), v AS (
  SELECT DISTINCT vkey
  FROM (SELECT s AS vkey FROM ek UNION ALL SELECT t AS vkey FROM ek)
), uv AS (
  SELECT DISTINCT least(s, t) AS u, greatest(s, t) AS v FROM ek WHERE s <> t
)"""


def q_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex clustering coefficient of the events graph, rounded 6dp."""
    from .flagship import events_graph
    from .io import load_table

    g = events_graph(load_table(spark, sf_dir, "events"))
    return (
        clustering_coefficients(g)
        .join(g.vertices.select("vid", "vkey"), "vid")
        .select("vkey", F.round("lcc", 6).alias("lcc"))
    )


SQL_CLUSTERING_COEFF = (
    "WITH "
    + _EV_CTES
    + """,
deg AS (
  SELECT vkey, count(*) AS deg
  FROM (SELECT u AS vkey FROM uv UNION ALL SELECT v AS vkey FROM uv)
  GROUP BY vkey
), tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM uv e1
  JOIN uv e2 ON e2.u = e1.u AND e2.v > e1.v
  JOIN uv e3 ON e3.u = e1.v AND e3.v = e2.v
), pv AS (
  SELECT vkey, count(*) AS n_tri
  FROM (SELECT a AS vkey FROM tri UNION ALL SELECT b AS vkey FROM tri
        UNION ALL SELECT c AS vkey FROM tri)
  GROUP BY vkey
)
SELECT v.vkey,
       round(CASE WHEN coalesce(d.deg, 0) >= 2
                  THEN 2.0 * coalesce(pv.n_tri, 0) / (d.deg * (d.deg - 1))
                  ELSE 0.0 END, 6) AS lcc
FROM v LEFT JOIN deg d USING (vkey) LEFT JOIN pv USING (vkey)
"""
)


# The raw events TURN graph at gate scale is a complete K_{|types|} (every
# type follows every type), which makes both link prediction and the degree
# histogram vacuous.  The AFFINITY bipartite graph — user <-> event_type
# edges kept only where the invocation count clears a threshold — has real
# structure (per-(user, type) counts vary ~3..24 at sf0.01), and is the
# canonical link-prediction substrate anyway (co-invocation similarity).
_AFFINITY_MIN_COUNT = 15


def _affinity_graph(spark: SparkSession, sf_dir: str) -> GraphTables:
    """Bipartite affinity graph: ``user:<id> -> event_type`` where the user
    invoked the type >= _AFFINITY_MIN_COUNT times.  vids dense by sorted
    vkey (so vid order == vkey order, which the oracles rely on)."""
    from .derive import key_graph
    from .io import load_table

    e = load_table(spark, sf_dir, "events")
    user = F.concat(F.lit("user:"), F.col("user_id").cast("string"))
    aff = (
        e.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("m"))
        .where(F.col("m") >= _AFFINITY_MIN_COUNT)
        .select(
            user.alias("s"),
            F.col("event_type").alias("t"),
            F.lit("tool").alias("etype"),
            F.col("m").cast("double").alias("w"),
        )
    )
    # vertex set = ALL users + ALL types (zero-degree vertices kept so the
    # histogram sees them)
    keys = (
        e.select(user.alias("vkey"))
        .unionByName(e.select(F.col("event_type").alias("vkey")))
        .distinct()
    )
    vtype = F.when(F.col("vkey").startswith("user:"), F.lit("actor")).otherwise(F.lit("tool"))
    return key_graph(aff, vtype, keys)


# User vertices have degree <= |types| (bounded at every scale); type
# vertices have degree ~ |users| (hubs).  max_deg=8 keeps users as wedge
# intermediaries (type-type similarity through shared users — linear cost)
# and excludes the type hubs (whose wedges are the quadratic user-user
# explosion).  Bound chosen vs the bipartite structure, not the data scale.
_JACCARD_MAX_DEG = 8

_AFF_SQL_CTES = f"""
aff AS (
  SELECT 'user:' || CAST(user_id AS VARCHAR) AS u, event_type AS v
  FROM events GROUP BY user_id, event_type
  HAVING count(*) >= {_AFFINITY_MIN_COUNT}
), allv AS (
  SELECT DISTINCT vkey FROM (
    SELECT 'user:' || CAST(user_id AS VARCHAR) AS vkey FROM events
    UNION ALL SELECT event_type FROM events)
)"""


def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 non-adjacent vertex pairs of the affinity bipartite graph by
    Jaccard score, hub intermediaries excluded (max_deg) — exercises the
    generic jaccard_pairs operator end to end."""
    g = _affinity_graph(spark, sf_dir)
    jp = jaccard_pairs(g, max_deg=_JACCARD_MAX_DEG)
    vp = g.vertices.select(F.col("vid").alias("p"), F.col("vkey").alias("p_key"))
    vq = g.vertices.select(F.col("vid").alias("q"), F.col("vkey").alias("q_key"))
    return (
        jp.join(vp, "p")
        .join(vq, "q")
        .select("p_key", "q_key", "common", F.round("jaccard", 6).alias("jaccard"))
        .orderBy(F.desc(F.round("jaccard", 6)), "p_key", "q_key")
        .limit(20)
    )


SQL_JACCARD_PAIRS = (
    "WITH "
    + _AFF_SQL_CTES
    + f""",
adj AS (
  SELECT u AS v, v AS nb FROM aff UNION ALL SELECT v AS v, u AS nb FROM aff
), deg AS (
  SELECT v, count(*) AS deg FROM adj GROUP BY v
), keep AS (
  SELECT v AS nb FROM deg WHERE deg <= {_JACCARD_MAX_DEG}
), thru AS (
  SELECT a.v, a.nb FROM adj a JOIN keep USING (nb)
), common AS (
  SELECT x.v AS p, y.v AS q, count(*) AS common
  FROM thru x JOIN thru y ON x.nb = y.nb AND x.v < y.v
  GROUP BY x.v, y.v
), cand AS (
  SELECT c.* FROM common c
  LEFT JOIN (SELECT least(u, v) AS lu, greatest(u, v) AS gv FROM aff) e
    ON e.lu = c.p AND e.gv = c.q
  WHERE e.lu IS NULL
)
SELECT c.p AS p_key, c.q AS q_key, c.common,
       round(CAST(c.common AS DOUBLE) / (dp.deg + dq.deg - c.common), 6) AS jaccard
FROM cand c
JOIN deg dp ON dp.v = c.p
JOIN deg dq ON dq.v = c.q
ORDER BY round(CAST(c.common AS DOUBLE) / (dp.deg + dq.deg - c.common), 6) DESC,
         c.p, c.q
LIMIT 20
"""
)


def q_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 non-adjacent pairs of the affinity bipartite graph by
    Adamic-Adar score (hub intermediaries excluded like jaccard_pairs)."""
    g = _affinity_graph(spark, sf_dir)
    aa = adamic_adar_pairs(g, max_deg=_JACCARD_MAX_DEG)
    vp = g.vertices.select(F.col("vid").alias("p"), F.col("vkey").alias("p_key"))
    vq = g.vertices.select(F.col("vid").alias("q"), F.col("vkey").alias("q_key"))
    return (
        aa.join(vp, "p")
        .join(vq, "q")
        .select("p_key", "q_key", "common", F.round("aa", 6).alias("aa"))
        .orderBy(F.desc(F.round("aa", 6)), "p_key", "q_key")
        .limit(20)
    )


SQL_ADAMIC_ADAR = (
    "WITH "
    + _AFF_SQL_CTES
    + f""",
adj AS (
  SELECT u AS v, v AS nb FROM aff UNION ALL SELECT v AS v, u AS nb FROM aff
), deg AS (
  SELECT v, count(*) AS deg FROM adj GROUP BY v
), thru AS (
  SELECT a.v, a.nb, d.deg AS nb_deg
  FROM adj a JOIN deg d ON d.v = a.nb
  WHERE d.deg <= {_JACCARD_MAX_DEG}
), scores AS (
  SELECT x.v AS p, y.v AS q, count(*) AS common,
         sum(1.0 / ln(x.nb_deg)) AS aa
  FROM thru x JOIN thru y ON x.nb = y.nb AND x.v < y.v
  GROUP BY x.v, y.v
), cand AS (
  SELECT s.* FROM scores s
  LEFT JOIN (SELECT least(u, v) AS lu, greatest(u, v) AS gv FROM aff) e
    ON e.lu = s.p AND e.gv = s.q
  WHERE e.lu IS NULL
)
SELECT p AS p_key, q AS q_key, common, round(aa, 6) AS aa
FROM cand
ORDER BY round(aa, 6) DESC, p, q
LIMIT 20
"""
)


def q_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-degree histogram of the affinity bipartite graph (users spread
    over 0..|types| by threshold, types at 0 — non-degenerate distribution)."""
    return degree_histogram(_affinity_graph(spark, sf_dir))


SQL_DEGREE_HIST = (
    "WITH "
    + _AFF_SQL_CTES
    + """,
deg AS (SELECT u AS vkey, count(*) AS out_deg FROM aff GROUP BY u)
SELECT coalesce(d.out_deg, 0) AS out_deg, count(*) AS n_vertices
FROM allv v LEFT JOIN deg d USING (vkey)
GROUP BY coalesce(d.out_deg, 0)
"""
)


# --------------------------------------------------------------------------
# deterministic random walks (graph-ML corpus generation)
# --------------------------------------------------------------------------

_WALK_STEPS = 3


def _events_edge_keys(spark: SparkSession, sf_dir: str):
    """Distinct directed (s, t) vkey pairs of the events graph (turn +
    tool edges, self-loops kept) — the key-space twin of
    flagship.events_graph's edge set, shared by the walk and fanout
    samplers so a change to the session ordering key reaches both."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    turn = (
        ev.select(
            F.col("event_type").alias("s"),
            F.lead("event_type").over(w).alias("t"),
        )
        .where(F.col("t").isNotNull())
    )
    tool = ev.select(
        F.concat(F.lit("user:"), F.col("user_id").cast("string")).alias("s"),
        F.col("event_type").alias("t"),
    )
    return turn.unionByName(tool).distinct()


def q_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic random walks over the full events graph (turn + tool
    edges) — the walk-corpus primitive behind DeepWalk/node2vec-style
    embedding training, made engine-reproducible: at each step the walker
    at ``cur`` moves to the out-neighbor minimizing
    md5("walk:<step>:<start>:<neighbor>") — a salted hash pick that is a
    uniform choice in distribution but bit-identical across engines and
    runs (same trick as doc_split's bucketing).  Walkers with no out-edge
    stay put (hops stops counting).

    Scale posture: one walk per vertex, each step is ONE equi-join of the
    frontier against the distinct edge list + a per-walk argmin — L
    shuffle-joins total for length-L walks, data-proportional, no collect;
    the standard distributed walk-corpus shape."""
    from .datapipe import _md5_int

    ed = _events_edge_keys(spark, sf_dir)
    verts = (
        ed.select(F.col("s").alias("vkey"))
        .unionByName(ed.select(F.col("t").alias("vkey")))
        .distinct()
    )

    cur = verts.select(
        F.col("vkey").alias("start"),
        F.col("vkey").alias("cur"),
        F.lit(0).cast("long").alias("hops"),
    )
    for i in range(1, _WALK_STEPS + 1):
        cand = cur.join(ed, cur.cur == ed.s).select(
            "start",
            F.col("t").alias("nxt"),
            _md5_int(
                F.concat_ws(":", F.lit("walk"), F.lit(str(i)), F.col("start"), F.col("t"))
            ).alias("sc"),
        )
        pw = Window.partitionBy("start").orderBy("sc", "nxt")
        pick = (
            cand.withColumn("rn", F.row_number().over(pw))
            .where(F.col("rn") == 1)
            .select("start", "nxt")
        )
        cur = (
            cur.join(pick, "start", "left")
            .select(
                "start",
                F.coalesce(F.col("nxt"), F.col("cur")).alias("cur"),
                (F.col("hops") + F.col("nxt").isNotNull().cast("long")).alias("hops"),
            )
        )
    return cur.select(
        F.col("start").alias("start_key"),
        F.col("cur").alias("end_key"),
        "hops",
    )


def _walks_sql(steps: int) -> str:
    from .datapipe import _sql_md5_int

    ctes = [
        "base AS (SELECT user_id, event_type, ts, event_id FROM events)",
        "turn AS (SELECT event_type AS s, "
        "lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t "
        "FROM base)",
        "ek AS (SELECT s, t FROM turn WHERE t IS NOT NULL "
        "UNION ALL SELECT 'user:' || CAST(user_id AS VARCHAR) AS s, event_type AS t FROM base)",
        "ed AS (SELECT DISTINCT s, t FROM ek)",
        "vv AS (SELECT DISTINCT vkey FROM "
        "(SELECT s AS vkey FROM ed UNION ALL SELECT t AS vkey FROM ed))",
        "w0 AS (SELECT vkey AS start, vkey AS cur, 0 AS hops FROM vv)",
    ]
    for i in range(1, steps + 1):
        sc = _sql_md5_int(f"concat_ws(':', 'walk', '{i}', w.start, e.t)")
        ctes.append(
            f"c{i} AS (SELECT w.start, e.t AS nxt, {sc} AS sc "
            f"FROM w{i - 1} w JOIN ed e ON e.s = w.cur)"
        )
        ctes.append(
            f"p{i} AS (SELECT start, nxt FROM ("
            f"SELECT start, nxt, row_number() OVER (PARTITION BY start ORDER BY sc, nxt) AS rn "
            f"FROM c{i}) WHERE rn = 1)"
        )
        ctes.append(
            f"w{i} AS (SELECT w.start, coalesce(p.nxt, w.cur) AS cur, "
            f"w.hops + CASE WHEN p.nxt IS NULL THEN 0 ELSE 1 END AS hops "
            f"FROM w{i - 1} w LEFT JOIN p{i} p USING (start))"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT start AS start_key, cur AS end_key, CAST(hops AS BIGINT) AS hops FROM w{steps}"
    )


SQL_RANDOM_WALKS = _walks_sql(_WALK_STEPS)


# --------------------------------------------------------------------------
# deterministic GNN neighbor sampling (GraphSAGE fanout)
# --------------------------------------------------------------------------

_NS_FANOUT = 4  # neighbors kept per vertex


def q_neighbor_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GraphSAGE-style fanout sampling over the distinct directed events
    edges: every vertex keeps at most ``_NS_FANOUT`` out-neighbors — the
    ones minimizing the salted hash md5("ns:<src>:<dst>") — so the sample
    is uniform in distribution yet bit-identical across engines, runs, and
    partitionings (no RNG state on executors).  ONE window over ONE
    shuffle on src; this is the standard mini-batch fanout primitive that
    bounds per-vertex aggregation cost at training time regardless of hub
    degree.  Output (src_key, dst_key, sample_rank)."""
    from pyspark.sql import Window

    from .datapipe import _md5_int

    ed = _events_edge_keys(spark, sf_dir)
    h = _md5_int(F.concat_ws(":", F.lit("ns"), F.col("s"), F.col("t")))
    sw = Window.partitionBy("s").orderBy(h.asc(), F.col("t").asc())
    return (
        ed.withColumn("sample_rank", F.row_number().over(sw).cast("long"))
        .where(F.col("sample_rank") <= _NS_FANOUT)
        .select(F.col("s").alias("src_key"), F.col("t").alias("dst_key"), "sample_rank")
    )


def _neighbor_sample_sql(fanout: int) -> str:
    from .datapipe import _sql_md5_int

    h = _sql_md5_int("concat_ws(':', 'ns', s, t)")
    return f"""
WITH base AS (SELECT user_id, event_type, ts, event_id FROM events),
turn AS (SELECT event_type AS s,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t
         FROM base),
ek AS (SELECT s, t FROM turn WHERE t IS NOT NULL
       UNION ALL
       SELECT 'user:' || CAST(user_id AS VARCHAR) AS s, event_type AS t FROM base),
ed AS (SELECT DISTINCT s, t FROM ek),
r AS (SELECT s, t,
             row_number() OVER (PARTITION BY s ORDER BY {h}, t) AS rn
      FROM ed)
SELECT s AS src_key, t AS dst_key, CAST(rn AS BIGINT) AS sample_rank
FROM r WHERE rn <= {fanout}
"""


SQL_NEIGHBOR_SAMPLE = _neighbor_sample_sql(_NS_FANOUT)


# --------------------------------------------------------------------------
# actor co-usage projection (bipartite actor × (tool, hour) -> actor pairs)
# --------------------------------------------------------------------------

_COUSAGE_MAX_ACTORS = 8   # hub guard: (tool, hour) keys busier than this
#                           are dropped before the pair join — the classic
#                           bipartite-projection skew control (a key with
#                           a actors emits O(a²) pairs; capping a bounds
#                           the join fan-out independent of corpus size)
_COUSAGE_MIN_SHARED = 2


def q_tool_cousage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Actor–actor co-usage edges: pairs of actors invoking the SAME tool
    in the SAME hour bucket, ≥2 shared (tool, hour) keys, hub keys excluded.

    The bipartite projection every transcript pipeline wants ("which agents
    work the same tools at the same time") in its only 100 TB-safe shape:
    distinct on (actor, tool, hour) first (combinable), per-key actor-count
    guard BEFORE the self-join, then one equi-join on the key — fan-out is
    ≤ max_actors² per key by construction, never O(actors²) global."""
    from .io import load_table

    e = load_table(spark, sf_dir, "events")
    ak = e.select(
        F.col("user_id").alias("actor"),
        F.col("event_type").alias("tool"),
        F.date_trunc("hour", F.col("ts")).alias("b"),
    ).distinct()
    keep = (
        ak.groupBy("tool", "b")
        .agg(F.count(F.lit(1)).alias("n_actors"))
        .where(F.col("n_actors") <= _COUSAGE_MAX_ACTORS)
        .select("tool", "b")
    )
    small = ak.join(keep, ["tool", "b"])
    x = small.select("tool", "b", F.col("actor").alias("u1"))
    y = small.select("tool", "b", F.col("actor").alias("u2"))
    return (
        x.join(y, ["tool", "b"])
        .where(F.col("u1") < F.col("u2"))
        .groupBy("u1", "u2")
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(F.col("shared") >= _COUSAGE_MIN_SHARED)
        .orderBy(F.desc("shared"), "u1", "u2")
        .limit(50)
    )


SQL_TOOL_COUSAGE = f"""
WITH ak AS (
  SELECT DISTINCT user_id AS actor, event_type AS tool,
         date_trunc('hour', ts) AS b
  FROM events
), keep AS (
  SELECT tool, b FROM (
    SELECT tool, b, count(*) AS n_actors FROM ak GROUP BY tool, b
  ) WHERE n_actors <= {_COUSAGE_MAX_ACTORS}
), small AS (
  SELECT ak.* FROM ak JOIN keep USING (tool, b)
)
SELECT x.actor AS u1, y.actor AS u2, count(*) AS shared
FROM small x JOIN small y ON x.tool = y.tool AND x.b = y.b AND x.actor < y.actor
GROUP BY x.actor, y.actor
HAVING count(*) >= {_COUSAGE_MIN_SHARED}
ORDER BY shared DESC, u1, u2 LIMIT 50
"""


# --------------------------------------------------------------------------
# time-respecting 2-hop paths (banded temporal join)
# --------------------------------------------------------------------------

_TP_WINDOW = "INTERVAL 1 HOUR"  # second hop must follow within one hour
_TP_TOPK = 50


_BURT_MAX_DEG = 64  # broker-degree cap: hub intermediaries excluded
_BURT_FP = 1_000_000


def q_burt_constraint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burt's structural-holes constraint per vertex of the undirected
    simple events graph — "how redundant are my contacts": c_i =
    Σ_{j∈N(i)} (p_ij + Σ_q p_iq·p_qj)² with p_ij = 1/deg_i; low
    constraint = the vertex brokers between otherwise-disconnected
    neighborhoods (the classic social-capital / influence-position
    measure).  Exact integer 1e6 fixed point: base = 1e6 DIV deg_i,
    each indirect term = 1e6 DIV (deg_i·deg_q) quantized BEFORE the
    sum, square = (x·x) DIV 1e6 — bit-identical cross-engine.

    Hub posture: indirect paths only flow through brokers q with
    deg(q) ≤ 64 (the jaccard_pairs/adamic_adar hub-exclusion
    precedent), so the 2-hop fan-out is bounded by cap·E, never
    Σ deg(q)² over hub vertices; degrees in p stay the FULL degrees.
    Output (vkey, deg, constraint_micro)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    turn = (
        ev.select(
            F.col("event_type").alias("s"),
            F.lead("event_type").over(w).alias("t"),
        )
        .where(F.col("t").isNotNull())
    )
    tool = ev.select(
        F.concat(F.lit("user:"), F.col("user_id").cast("string")).alias("s"),
        F.col("event_type").alias("t"),
    )
    ek = turn.unionByName(tool)
    uv = (
        ek.where(F.col("s") != F.col("t"))
        .select(F.least("s", "t").alias("u"), F.greatest("s", "t").alias("v"))
        .distinct()
    )
    adj = uv.select(F.col("u").alias("a"), F.col("v").alias("b")).unionByName(
        uv.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    deg = adj.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    di = deg.select(F.col("a").alias("i"), F.col("deg").alias("deg_i"))
    pairs = adj.select(F.col("a").alias("i"), F.col("b").alias("j")).join(di, "i")
    dq = deg.select(F.col("a").alias("q"), F.col("deg").alias("deg_q"))
    thru = (
        adj.select(F.col("a").alias("i"), F.col("b").alias("q"))
        .join(dq.where(F.col("deg_q") <= _BURT_MAX_DEG), "q")
    )
    hop2 = (
        thru.join(adj.select(F.col("a").alias("q"), F.col("b").alias("j")), "q")
        .where(F.col("i") != F.col("j"))
        .join(pairs.select("i", "j"), ["i", "j"], "left_semi")
        .join(di, "i")
    )
    ind = hop2.groupBy("i", "j").agg(
        F.sum(
            F.expr(f"CAST({_BURT_FP} AS BIGINT) DIV (deg_i * deg_q)")
        ).alias("ind")
    )
    x = pairs.join(ind, ["i", "j"], "left").select(
        "i",
        "deg_i",
        (
            F.expr(f"{_BURT_FP} DIV deg_i")
            + F.coalesce(F.col("ind"), F.lit(0))
        ).alias("x"),
    )
    con = (
        x.select("i", "deg_i", F.expr(f"(x * x) DIV {_BURT_FP}").alias("c"))
        .groupBy("i")
        .agg(F.max("deg_i").alias("deg"), F.sum("c").alias("constraint_micro"))
    )
    vkeys = (
        ek.select(F.col("s").alias("vkey"))
        .unionByName(ek.select(F.col("t").alias("vkey")))
        .distinct()
    )
    return vkeys.join(
        con.withColumnRenamed("i", "vkey"), "vkey", "left"
    ).select(
        "vkey",
        F.coalesce("deg", F.lit(0)).alias("deg"),
        F.coalesce("constraint_micro", F.lit(0)).alias("constraint_micro"),
    )


SQL_BURT_CONSTRAINT = (
    "WITH "
    + _EV_CTES
    + f""",
adj AS (
  SELECT u AS a, v AS b FROM uv UNION ALL SELECT v AS a, u AS b FROM uv
), deg AS (
  SELECT a, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY a
), pairs AS (
  SELECT adj.a AS i, adj.b AS j, d.deg AS deg_i
  FROM adj JOIN deg d ON d.a = adj.a
), hop2 AS (
  SELECT x.a AS i, y.b AS j, dx.deg AS deg_i, dq.deg AS deg_q
  FROM adj x
  JOIN deg dq ON dq.a = x.b AND dq.deg <= {_BURT_MAX_DEG}
  JOIN adj y ON y.a = x.b AND y.b <> x.a
  JOIN deg dx ON dx.a = x.a
  WHERE EXISTS (SELECT 1 FROM pairs p WHERE p.i = x.a AND p.j = y.b)
), ind AS (
  SELECT i, j,
         CAST(sum({_BURT_FP} // (deg_i * deg_q)) AS BIGINT) AS ind
  FROM hop2 GROUP BY i, j
), xx AS (
  SELECT p.i, p.deg_i,
         ({_BURT_FP} // p.deg_i) + coalesce(ind.ind, 0) AS x
  FROM pairs p LEFT JOIN ind ON ind.i = p.i AND ind.j = p.j
), con AS (
  SELECT i, max(deg_i) AS deg,
         CAST(sum((x * x) // {_BURT_FP}) AS BIGINT) AS constraint_micro
  FROM xx GROUP BY i
)
SELECT v.vkey, coalesce(c.deg, 0) AS deg,
       coalesce(c.constraint_micro, 0) AS constraint_micro
FROM v LEFT JOIN con c ON c.i = v.vkey
"""
)


def q_temporal_paths2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-respecting 2-hop tool paths: (src → m at t1, m → dst at t2)
    with t1 < t2 ≤ t1 + 1 hour, counted per (src, dst); top-50.

    The range predicate is decomposed into a BANDED equi-join — the only
    100 TB-safe shape for a temporal join: both edge sets carry an hour
    bucket, the right side is duplicated onto buckets {b, b−1}, the join
    keys on (mid, bucket) so candidate fan-out is bounded by co-bucketed
    traffic through each mid vertex, and the exact window filter runs
    post-join on the tiny candidate set.  A plain t2-range theta join
    would force a per-mid cross product; the band cap makes the candidate
    volume proportional to traffic density, not to corpus size."""
    from .io import load_table
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    te = (
        e.select(
            F.col("event_type").alias("s"),
            F.lead("event_type").over(w).alias("t"),
            F.lead("ts").over(w).alias("ts"),
        )
        .where(F.col("t").isNotNull() & (F.col("s") != F.col("t")))
        .distinct()
    )
    b = F.date_trunc("hour", F.col("ts"))
    e1 = te.select(
        F.col("s").alias("src"), F.col("t").alias("m"),
        F.col("ts").alias("t1"), b.alias("jb"),
    )
    e2 = te.select(
        F.col("s").alias("m"), F.col("t").alias("dst"),
        F.col("ts").alias("t2"), b.alias("b2"),
    )
    e2x = e2.withColumn("jb", F.col("b2")).unionByName(
        e2.withColumn("jb", F.col("b2") - F.expr("INTERVAL 1 HOUR"))
    )
    return (
        e1.join(e2x, ["m", "jb"])
        .where(
            (F.col("t2") > F.col("t1"))
            & (F.col("t2") <= F.col("t1") + F.expr("INTERVAL 1 HOUR"))
        )
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n_paths"))
        .orderBy(F.desc("n_paths"), "src", "dst")
        .limit(_TP_TOPK)
    )


SQL_TEMPORAL_PATHS2 = f"""
WITH seq AS (
  SELECT event_type AS s,
         lead(event_type) OVER w AS t,
         lead(ts) OVER w AS ts
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), te AS (
  SELECT DISTINCT s, t, ts FROM seq WHERE t IS NOT NULL AND s <> t
)
SELECT e1.s AS src, e2.t AS dst, count(*) AS n_paths
FROM te e1 JOIN te e2 ON e2.s = e1.t
WHERE e2.ts > e1.ts AND e2.ts <= e1.ts + INTERVAL 1 HOUR
GROUP BY e1.s, e2.t
ORDER BY n_paths DESC, src, dst LIMIT {_TP_TOPK}
"""


# --------------------------------------------------------------------------
# node2vec-biased second-order walks (Grover & Leskovec 2016): the walker
# remembers its previous vertex and biases the next hop by the p/q return/
# in-out parameters.  Weighted sampling is made ENGINE-EXACT by integer
# weight replication: a candidate of (rational) weight w/2 is replicated
# k = 2w times with distinct salts, and the global min salted hash wins —
# correct weighted choice in distribution, zero floating point, so Spark
# and the SQL oracle pick bit-identical walks.
# --------------------------------------------------------------------------

_N2V_STEPS = 3
# p = 2, q = 0.5 scaled x2 -> integer replication counts
_N2V_K_RETURN = 1    # d(prev, nxt) = 0: weight 1/p = 0.5
_N2V_K_COMMON = 2    # d(prev, nxt) = 1: weight 1
_N2V_K_FORWARD = 4   # d(prev, nxt) = 2: weight 1/q = 2
_N2V_FP_MOD = 2147483647


def q_node2vec_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-order (node2vec) biased walks over the events graph — the
    walk corpus behind node2vec embedding training.  Each walker carries
    (prev, cur); a candidate next-hop is classified return / common /
    forward against ``prev`` (common = an edge prev→nxt or nxt→prev
    exists) and replicated ``k`` ∈ {1, 2, 4} times with distinct salts;
    the candidate owning the globally smallest salted md5 wins.  Walkers
    with no out-edge stay put.  The first step has no ``prev`` and is
    uniform (every candidate forward-class), per the node2vec paper.

    Scale posture: per step ONE frontier⋈edges equi-join, one broadcast-
    able prev-edge membership left join, a ≤4× in-plan row replication
    (explode of a ≤4-element sequence — never a shuffle), and one
    per-walk top-1; L steps = L shuffles.  At extreme scale the
    replication trick trades 4× map-side rows for exactness; swapping in
    Efraimidis–Spirakis float keys (doc_weighted_sample's shape) halves
    the rows at the cost of cross-engine float parity.
    Output (start_key, end_key, hops, path_fp) — path_fp folds every
    visited vertex, so the gate verifies whole paths, not endpoints."""
    from .datapipe import _md5_int

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    turn = (
        ev.select(
            F.col("event_type").alias("s"),
            F.lead("event_type").over(w).alias("t"),
        )
        .where(F.col("t").isNotNull())
    )
    tool = ev.select(
        F.concat(F.lit("user:"), F.col("user_id").cast("string")).alias("s"),
        F.col("event_type").alias("t"),
    )
    ed = turn.unionByName(tool).distinct()
    undp = (
        ed.select(F.col("s").alias("ps"), F.col("t").alias("pt"))
        .unionByName(ed.select(F.col("t").alias("ps"), F.col("s").alias("pt")))
        .distinct()
    )
    verts = (
        ed.select(F.col("s").alias("vkey"))
        .unionByName(ed.select(F.col("t").alias("vkey")))
        .distinct()
    )

    state = verts.select(
        F.col("vkey").alias("start"),
        F.lit(None).cast("string").alias("prev"),
        F.col("vkey").alias("cur"),
        F.lit(0).cast("long").alias("hops"),
        F.pmod(_md5_int(F.col("vkey")), F.lit(_N2V_FP_MOD)).alias("fp"),
    )
    for i in range(1, _N2V_STEPS + 1):
        cand = (
            state.join(ed, state.cur == ed.s)
            .join(
                undp,
                (F.col("prev").isNotNull())
                & (F.col("prev") == F.col("ps"))
                & (F.col("t") == F.col("pt")),
                "left",
            )
            .select(
                "start",
                F.col("t").alias("nxt"),
                F.when(
                    F.col("prev").isNotNull() & (F.col("t") == F.col("prev")),
                    F.lit(_N2V_K_RETURN),
                )
                .when(F.col("ps").isNotNull(), F.lit(_N2V_K_COMMON))
                .otherwise(F.lit(_N2V_K_FORWARD))
                .alias("k"),
            )
        )
        scored = cand.select(
            "start",
            "nxt",
            F.explode(F.sequence(F.lit(0), F.col("k") - 1)).alias("r"),
        ).select(
            "start",
            "nxt",
            _md5_int(
                F.concat_ws(
                    ":", F.lit("n2v"), F.lit(str(i)), F.col("start"),
                    F.col("nxt"), F.col("r"),
                )
            ).alias("sc"),
        )
        pw = Window.partitionBy("start").orderBy("sc", "nxt")
        pick = (
            scored.withColumn("rn", F.row_number().over(pw))
            .where(F.col("rn") == 1)
            .select("start", F.col("nxt").alias("picked"))
        )
        state = (
            state.join(pick, "start", "left")
            .select(
                "start",
                F.when(F.col("picked").isNotNull(), F.col("cur"))
                .otherwise(F.col("prev"))
                .alias("prev"),
                F.coalesce("picked", F.col("cur")).alias("cur"),
                (F.col("hops") + F.col("picked").isNotNull().cast("long")).alias(
                    "hops"
                ),
                F.when(
                    F.col("picked").isNotNull(),
                    F.pmod(
                        F.col("fp") + F.pmod(_md5_int(F.col("picked")),
                                             F.lit(_N2V_FP_MOD)),
                        F.lit(_N2V_FP_MOD),
                    ),
                )
                .otherwise(F.col("fp"))
                .alias("fp"),
            )
        )
    return state.select(
        F.col("start").alias("start_key"),
        F.col("cur").alias("end_key"),
        "hops",
        F.col("fp").alias("path_fp"),
    )


def _node2vec_sql(steps: int) -> str:
    from .datapipe import _sql_md5_int

    m = _N2V_FP_MOD
    ctes = [
        "base AS (SELECT user_id, event_type, ts, event_id FROM events)",
        "turn AS (SELECT event_type AS s, "
        "lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t "
        "FROM base)",
        "ek AS (SELECT s, t FROM turn WHERE t IS NOT NULL "
        "UNION ALL SELECT 'user:' || CAST(user_id AS VARCHAR) AS s, event_type AS t FROM base)",
        "ed AS (SELECT DISTINCT s, t FROM ek)",
        "undp AS (SELECT DISTINCT ps, pt FROM ("
        "SELECT s AS ps, t AS pt FROM ed UNION ALL SELECT t AS ps, s AS pt FROM ed))",
        "vv AS (SELECT DISTINCT vkey FROM "
        "(SELECT s AS vkey FROM ed UNION ALL SELECT t AS vkey FROM ed))",
        f"s0 AS (SELECT vkey AS start, CAST(NULL AS VARCHAR) AS prev, "
        f"vkey AS cur, 0 AS hops, "
        f"{_sql_md5_int('vkey')} % {m} AS fp FROM vv)",
    ]
    for i in range(1, steps + 1):
        sc = _sql_md5_int(
            f"concat_ws(':', 'n2v', '{i}', c.start, c.nxt, CAST(g.r AS VARCHAR))"
        )
        ctes.append(
            f"""c{i} AS (
  SELECT s.start, e.t AS nxt,
         CASE WHEN s.prev IS NOT NULL AND e.t = s.prev THEN {_N2V_K_RETURN}
              WHEN p.ps IS NOT NULL THEN {_N2V_K_COMMON}
              ELSE {_N2V_K_FORWARD} END AS k
  FROM s{i - 1} s
  JOIN ed e ON e.s = s.cur
  LEFT JOIN undp p
    ON s.prev IS NOT NULL AND p.ps = s.prev AND p.pt = e.t
)"""
        )
        ctes.append(
            f"r{i} AS (SELECT c.start, c.nxt, {sc} AS sc "
            f"FROM c{i} c, LATERAL (SELECT unnest(generate_series(0, c.k - 1)) AS r) g)"
        )
        ctes.append(
            f"p{i} AS (SELECT start, nxt FROM ("
            f"SELECT start, nxt, row_number() OVER (PARTITION BY start ORDER BY sc, nxt) AS rn "
            f"FROM r{i}) WHERE rn = 1)"
        )
        ctes.append(
            f"""s{i} AS (
  SELECT s.start,
         CASE WHEN p.nxt IS NOT NULL THEN s.cur ELSE s.prev END AS prev,
         coalesce(p.nxt, s.cur) AS cur,
         s.hops + CASE WHEN p.nxt IS NULL THEN 0 ELSE 1 END AS hops,
         CASE WHEN p.nxt IS NOT NULL
              THEN (s.fp + {_sql_md5_int('p.nxt')} % {m}) % {m}
              ELSE s.fp END AS fp
  FROM s{i - 1} s LEFT JOIN p{i} p USING (start)
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT start AS start_key, cur AS end_key, "
        f"CAST(hops AS BIGINT) AS hops, CAST(fp AS BIGINT) AS path_fp "
        f"FROM s{steps}"
    )


SQL_NODE2VEC_WALKS = _node2vec_sql(_N2V_STEPS)


# --------------------------------------------------------------------------
# Negative edge sampling (§2.15 row 233): deterministic hash-derived
# non-edge pairs per vertex — the training-data counterpart of link
# prediction (every GNN / embedding trainer needs K negatives per positive,
# and at 10^12 edges they must come from pure column math, not an RNG).
# Candidate j of vertex u targets the vertex whose dense vid is
# md5(u ':' j) mod |V|; self-hits and true edges are anti-joined away, the
# first _NEG_K survivors (by draw index) are kept.
# --------------------------------------------------------------------------

_NEG_K = 3        # negatives kept per vertex
_NEG_DRAWS = 8    # candidate draws per vertex (survives collisions)


def q_link_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Up to ``_NEG_K`` deterministic negative (non-adjacent) partners per
    vertex of the undirected events graph.

    Scale posture: candidates are |V| x _NEG_DRAWS rows joined back to the
    vertex table on a hash-uniform vid (no skew) and anti-joined against
    the distinct edge set on the (least, greatest) key — three narrow
    equi-joins and two combinable aggregates; |V| is a 1-row broadcast.
    The dense vid is the oracle-shared ``row_number() OVER (ORDER BY
    vkey) - 1``, computed by ``derive.dense_ids`` (the engine's
    range-partitioned vid assignment, no single-task window).  Output
    (vkey, rn, neg_key)."""
    from .datapipe import _md5_int
    from .derive import dense_ids
    from .io import load_table

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    turn = (
        e.select(
            F.col("event_type").alias("s"),
            F.lead("event_type").over(w).alias("t"),
        )
        .where(F.col("t").isNotNull())
    )
    ek = turn.unionByName(
        e.select(
            F.concat(F.lit("user:"), F.col("user_id").cast("string")).alias("s"),
            F.col("event_type").alias("t"),
        )
    )
    uv = (
        ek.where(F.col("s") != F.col("t"))
        .select(
            F.least("s", "t").alias("pu"), F.greatest("s", "t").alias("pv")
        )
        .distinct()
    )
    verts = (
        ek.select(F.col("s").alias("vkey"))
        .unionByName(ek.select(F.col("t").alias("vkey")))
        .distinct()
    )
    vmap = dense_ids(verts, "vkey")
    nv = vmap.agg(F.count(F.lit(1)).alias("n"))
    cand = (
        vmap.select("vkey")
        .crossJoin(F.broadcast(nv))
        .select(
            "vkey",
            F.explode(F.sequence(F.lit(1), F.lit(_NEG_DRAWS))).alias("j"),
            "n",
        )
        .select(
            "vkey",
            "j",
            F.pmod(
                _md5_int(
                    F.concat(F.col("vkey"), F.lit(":"), F.col("j").cast("string"))
                ),
                F.col("n"),
            ).alias("nid"),
        )
    )
    withkey = (
        cand.join(
            vmap.select(F.col("vid").alias("nid"), F.col("vkey").alias("neg_key")),
            "nid",
        )
        .where(F.col("neg_key") != F.col("vkey"))
        .withColumn("pu", F.least("vkey", "neg_key"))
        .withColumn("pv", F.greatest("vkey", "neg_key"))
        .join(uv, ["pu", "pv"], "left_anti")
        .groupBy("vkey", "neg_key")
        .agg(F.min("j").alias("j"))
    )
    rk = Window.partitionBy("vkey").orderBy("j", "neg_key")
    return (
        withkey.withColumn("rn", F.row_number().over(rk))
        .where(F.col("rn") <= _NEG_K)
        .select("vkey", "rn", "neg_key")
    )


def _sql_link_negatives() -> str:
    from .datapipe import _sql_md5_int

    h = _sql_md5_int("vkey || ':' || CAST(j AS VARCHAR)")
    return f"""
WITH base AS (
  SELECT user_id, event_type, ts, event_id FROM events
), turn AS (
  SELECT event_type AS s,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t
  FROM base
), ek AS (
  SELECT s, t FROM turn WHERE t IS NOT NULL
  UNION ALL
  SELECT 'user:' || CAST(user_id AS VARCHAR) AS s, event_type AS t FROM base
), uv AS (
  SELECT DISTINCT least(s, t) AS pu, greatest(s, t) AS pv
  FROM ek WHERE s <> t
), vmap AS (
  SELECT vkey, CAST(row_number() OVER (ORDER BY vkey) - 1 AS BIGINT) AS vid
  FROM (SELECT DISTINCT vkey
        FROM (SELECT s AS vkey FROM ek UNION ALL SELECT t AS vkey FROM ek))
), nv AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM vmap
), cand AS (
  SELECT vkey, g.j, ({h}) % nv.n AS nid
  FROM vmap, nv,
       LATERAL (SELECT unnest(generate_series(1, {_NEG_DRAWS})) AS j) g
), withkey AS (
  SELECT c.vkey, m.vkey AS neg_key, CAST(min(c.j) AS BIGINT) AS j
  FROM cand c
  JOIN vmap m ON m.vid = c.nid
  WHERE m.vkey <> c.vkey
    AND NOT EXISTS (
      SELECT 1 FROM uv
      WHERE uv.pu = least(c.vkey, m.vkey)
        AND uv.pv = greatest(c.vkey, m.vkey))
  GROUP BY c.vkey, m.vkey
)
SELECT vkey, CAST(rn AS INT) AS rn, neg_key
FROM (
  SELECT vkey, neg_key,
         row_number() OVER (PARTITION BY vkey ORDER BY j, neg_key) AS rn
  FROM withkey
)
WHERE rn <= {_NEG_K}
"""


