"""Driver-gate queries that exercise the REAL engine (CSR + Pregel paths).

Unlike relational.py (pure Catalyst plans), these run the gather-scatter
engine on the events-derived graph so the driver's correctness JSON covers
the hot path too:

- engine_components: distributed hash-min CC, verified EXACTLY against a
  DuckDB recursive-CTE transitive closure (component id = min vkey).
- engine_triangles: triangles.py (degree-oriented 2-join) against the
  3-way self-join SQL.
- engine_pagerank / engine_labelprop / engine_bfs / engine_sssp /
  engine_ppr / engine_katz / engine_harmonic / engine_scc / engine_hits /
  engine_kcore: FIXED-iteration runs, hash-checked against unrolled-CTE
  DuckDB oracles (graph_oracles.py); run-to-convergence exactness is
  covered in pytest against the single-node references.
- linkpred rows (clustering_coeff, jaccard_pairs, adamic_adar,
  degree_hist, random_walks): pure-Catalyst local-structure analytics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .flagship import events_graph
from .graph_oracles import (
    bfs_fixed_sql,
    msbfs_fixed_sql,
    kcenter_fixed_sql,
    ltcascade_fixed_sql,
    bowtie_fixed_sql,
    eigenvector_fixed_sql,
    harmonic_fixed_sql,
    katz_fixed_sql,
    modularity_fixed_sql,
    scc_pivot_fixed_sql,
    labelprop_fixed_sql,
    pagerank_fixed_sql,
    ppr_fixed_sql,
    sssp_fixed_sql,
    widest_fixed_sql,
)
from .io import load_table
from .pregel import (
    BFS_INF,
    BFSProgram,
    BipartiteProgram,
    ComponentsProgram,
    EigenvectorProgram,
    GraphContext,
    KatzProgram,
    LabelPropProgram,
    LTCascadeProgram,
    PageRankProgram,
    PersonalizedPageRankProgram,
    SSSPProgram,
    WidestPathProgram,
    run_program,
)
from .triangles import count_triangles

_P = 8


def _events_ctx(spark: SparkSession, sf_dir: str):
    g = events_graph(load_table(spark, sf_dir, "events"))
    return g, GraphContext.build(g, _P)


def engine_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CC over the events graph; output (vkey, comp_key).

    vids are assigned by sorted vkey (flagship.events_graph), so the min-vid
    component label maps to the lexicographically-min vkey — which is what
    the SQL oracle computes."""
    g, ctx = _events_ctx(spark, sf_dir)
    try:
        res = run_program(ctx, ComponentsProgram(), max_iter=100)
        v = g.vertices.select("vkey", "vid")
        comp_key = v.select(F.col("vid").alias("comp"), F.col("vkey").alias("comp_key"))
        return (
            res.state.join(v, "vid")
            .join(comp_key, "comp")
            .select("vkey", "comp_key")
        )
    finally:
        ctx.unpersist()


SQL_ENGINE_COMPONENTS = """
WITH base AS (
  SELECT user_id, event_type, ts, event_id FROM events
), turn AS (
  SELECT event_type AS a,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS b
  FROM base
), pairs AS (
  SELECT a, b FROM turn WHERE b IS NOT NULL
  UNION ALL
  SELECT 'user:' || CAST(user_id AS VARCHAR) AS a, event_type AS b FROM base
), und AS (
  SELECT DISTINCT a, b FROM (
    SELECT a, b FROM pairs WHERE a <> b
    UNION ALL
    SELECT b AS a, a AS b FROM pairs WHERE a <> b
  )
), nodes AS (
  SELECT DISTINCT a AS v FROM (SELECT a FROM pairs UNION ALL SELECT b FROM pairs)
), reach AS (
  WITH RECURSIVE r(v, root) AS (
    SELECT v, v FROM nodes
    UNION
    SELECT und.b, r.root FROM r JOIN und ON und.a = r.v
  )
  SELECT * FROM r
)
SELECT v AS vkey, min(root) AS comp_key FROM reach GROUP BY v
"""


def engine_component_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Component size distribution — the standard web-graph connectivity
    summary (giant-component share falls straight out): runs the hash-min
    CC engine, then two combinable groupBys (comp -> size -> histogram).
    Output (size, n_components)."""
    comp = engine_components(spark, sf_dir)
    sizes = comp.groupBy("comp_key").agg(F.count(F.lit(1)).alias("size"))
    return sizes.groupBy("size").agg(F.count(F.lit(1)).alias("n_components"))


SQL_ENGINE_COMPONENT_SIZES = f"""
SELECT size, count(*) AS n_components
FROM (
  SELECT comp_key, count(*) AS size
  FROM ({SQL_ENGINE_COMPONENTS}) GROUP BY comp_key
)
GROUP BY size
"""


def engine_components_warm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental CC (the streaming-ingest posture): converge hash-min on
    the 90%-of-users subset graph, carry the labels by STABLE KEY
    (incremental.comps_by_key), then warm-start on the full graph.
    Dropping a user's events only removes that user's own turn/tool edges
    (per-user lead() sequences never relink across users), so the subset's
    edge set is a strict subset of the full graph's — the additive-delta
    precondition warm_components_init requires.  The CC fixed point is
    schedule-independent, so the output is identical to engine_components
    and the SAME recursive-CTE oracle hash-checks the entire incremental
    path (seed join + warm supersteps).  Output (vkey, comp_key)."""
    from .incremental import comps_by_key, warm_components_init

    ev = load_table(spark, sf_dir, "events")
    old_g = events_graph(ev.where(F.col("user_id") % 10 != 0))
    old_ctx = GraphContext.build(old_g, _P)
    try:
        old = run_program(old_ctx, ComponentsProgram(), max_iter=100)
        if not old.converged:
            raise RuntimeError("engine_components_warm: subset CC diverged")
        prev = comps_by_key(old_g, old.state)
    finally:
        old_ctx.unpersist()

    g = events_graph(ev)
    ctx = GraphContext.build(g, _P)
    try:
        init = warm_components_init(ctx, g, prev)
        res = run_program(
            ctx, ComponentsProgram(), max_iter=100, init_state=init
        )
        if not res.converged:
            raise RuntimeError("engine_components_warm: warm CC diverged")
        v = g.vertices.select("vkey", "vid")
        comp_key = v.select(
            F.col("vid").alias("comp"), F.col("vkey").alias("comp_key")
        )
        return (
            res.state.join(v, "vid")
            .join(comp_key, "comp")
            .select("vkey", "comp_key")
        )
    finally:
        ctx.unpersist()


def engine_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-colorability / odd-cycle audit per component: hash-min CC picks
    each component's root, then BipartiteProgram propagates the 2-bit
    parity-reachability mask from the roots over the undirected simple
    graph; a component is bipartite iff no vertex sees both parities
    (mask == 3).  This is the standard pre-check before bipartite-only
    algorithms (two-sided projections, bipartite matching) on e.g.
    user↔tool interaction graphs.  Output one row per component:
    (comp_key, n_vertices, n_conflicts, is_bipartite)."""
    g, ctx = _events_ctx(spark, sf_dir)
    try:
        cc = run_program(ctx, ComponentsProgram(), max_iter=100)
        if not cc.converged:
            raise RuntimeError("engine_bipartite: CC did not converge")
        roots = cc.state.where(F.col("vid") == F.col("comp")).select("vid")
        bp = run_program(ctx, BipartiteProgram(roots), max_iter=400)
        if not bp.converged:
            raise RuntimeError("engine_bipartite: parity mask did not converge")
        v = g.vertices.select("vkey", "vid")
        comp_key = v.select(F.col("vid").alias("comp"), F.col("vkey").alias("comp_key"))
        joined = (
            cc.state.select("vid", "comp")
            .join(bp.state.select("vid", "mask"), "vid")
            .join(comp_key, "comp")
        )
        conflicts = F.sum((F.col("mask") == 3).cast("long"))
        return joined.groupBy("comp_key").agg(
            F.count(F.lit(1)).alias("n_vertices"),
            conflicts.alias("n_conflicts"),
            (conflicts == 0).alias("is_bipartite"),
        )
    finally:
        ctx.unpersist()


# parity closure: (v, par) states are bounded by 2·V, so the recursive
# UNION terminates exactly — no fixed-k unrolling needed (unlike BFS dist).
# und is the same self-loop-free simple view the engine's CSR uses.
SQL_ENGINE_BIPARTITE = """
WITH base AS (
  SELECT user_id, event_type, ts, event_id FROM events
), turn AS (
  SELECT event_type AS a,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS b
  FROM base
), pairs AS (
  SELECT a, b FROM turn WHERE b IS NOT NULL
  UNION ALL
  SELECT 'user:' || CAST(user_id AS VARCHAR) AS a, event_type AS b FROM base
), und AS (
  SELECT DISTINCT a, b FROM (
    SELECT a, b FROM pairs WHERE a <> b
    UNION ALL
    SELECT b AS a, a AS b FROM pairs WHERE a <> b
  )
), nodes AS (
  SELECT DISTINCT a AS v FROM (SELECT a FROM pairs UNION ALL SELECT b FROM pairs)
), reach AS (
  WITH RECURSIVE r(v, root) AS (
    SELECT v, v FROM nodes
    UNION
    SELECT und.b, r.root FROM r JOIN und ON und.a = r.v
  )
  SELECT * FROM r
), comp AS (
  SELECT v, min(root) AS comp_key FROM reach GROUP BY v
), par AS (
  WITH RECURSIVE p(v, par) AS (
    SELECT DISTINCT comp_key, 0 FROM comp
    UNION
    SELECT und.b, 1 - p.par FROM p JOIN und ON und.a = p.v
  )
  SELECT v, count(*) AS n_par FROM p GROUP BY v
)
SELECT c.comp_key,
       CAST(count(*) AS BIGINT) AS n_vertices,
       CAST(sum(CASE WHEN m.n_par = 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_conflicts,
       sum(CASE WHEN m.n_par = 2 THEN 1 ELSE 0 END) = 0 AS is_bipartite
FROM comp c JOIN par m ON m.v = c.v
GROUP BY c.comp_key
"""


def engine_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle total over the events turn-edge graph via the engine's
    degree-oriented 2-join (triangles.py); SQL oracle = 3-way self-join."""
    from .derive import key_graph
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.select(
            F.col("event_type").alias("s"),
            F.lead("event_type").over(w).alias("t"),
        )
        .where(F.col("t").isNotNull())
        .groupBy("s", "t")
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
        .withColumn("etype", F.lit("turn"))
    )
    g = key_graph(pairs, F.lit("actor"))
    res = count_triangles(g)
    out = spark.createDataFrame([(res.total,)], "n_triangles bigint")
    res.unpersist()
    return out


# same oracle as relational.SQL_TRIANGLE_COUNT (imported there; duplicated
# here would drift — engine_triangles reuses it via the registry below)


_PR_STEPS = 5
_LPA_STEPS = 5


def engine_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSR-path PageRank, FIXED 5 supersteps on the events graph; top-20.

    Fixed iteration count makes the CSR gather-scatter engine itself
    hash-checkable against the unrolled-CTE DuckDB oracle
    (graph_oracles.pagerank_fixed_sql); convergence-mode exactness is
    covered by pytest vs networkx (tests/test_pregel.py)."""
    g, ctx = _events_ctx(spark, sf_dir)
    try:
        res = run_program(ctx, PageRankProgram(tol=0.0), fixed_iters=_PR_STEPS)
        return (
            res.state.join(g.vertices, "vid")
            .select("vkey", F.round("rank", 6).alias("rank"))
            .orderBy(F.desc("rank"), "vkey")
            .limit(20)
        )
    finally:
        ctx.unpersist()


SQL_ENGINE_PAGERANK = pagerank_fixed_sql(_PR_STEPS, limit=20, with_vid=False)


def engine_labelprop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous LPA, FIXED 5 supersteps on the events graph.

    vids are assigned by sorted vkey (flagship.events_graph), so the
    engine's min-vid tiebreak == the oracle's min-vkey tiebreak and labels
    map 1:1 into vkey space (graph_oracles.labelprop_fixed_sql)."""
    g, ctx = _events_ctx(spark, sf_dir)
    try:
        res = run_program(ctx, LabelPropProgram(), fixed_iters=_LPA_STEPS)
        v = g.vertices.select("vkey", "vid")
        lab_key = v.select(F.col("vid").alias("label"), F.col("vkey").alias("label_key"))
        return res.state.join(v, "vid").join(lab_key, "label").select("vkey", "label_key")
    finally:
        ctx.unpersist()


SQL_ENGINE_LABELPROP = labelprop_fixed_sql(_LPA_STEPS)

_BFS_STEPS = 6


def engine_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSR-path BFS hop distance, FIXED 6 supersteps from the min-vkey
    vertex on the events graph's undirected simple view; output
    (vkey, dist) for reached vertices — hash-checked against the
    unrolled-CTE oracle (graph_oracles.bfs_fixed_sql).  vid 0 == min vkey
    under flagship.events_graph's sorted assignment."""
    g, ctx = _events_ctx(spark, sf_dir)
    try:
        src = spark.createDataFrame([(0,)], "vid long")
        res = run_program(ctx, BFSProgram(src), fixed_iters=_BFS_STEPS)
        return (
            res.state.where(F.col("dist") < F.lit(int(BFS_INF)))
            .join(g.vertices.select("vid", "vkey"), "vid")
            .select("vkey", "dist")
        )
    finally:
        ctx.unpersist()


SQL_ENGINE_BFS = bfs_fixed_sql(_BFS_STEPS)

_MSBFS_SEEDS = 4


def engine_msbfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS (closest-facility distance) in ONE engine
    traversal: all ``_MSBFS_SEEDS`` seeds (vids 0..3 == the 4 lowest
    vkeys under sorted assignment) start at distance 0 and the frontier
    expands once — dist(v) = hops to the NEAREST seed.  The point vs
    engine_harmonic's per-landmark loop: k facilities cost ONE superstep
    sweep, not k, because BFSProgram's min-combine already merges
    frontiers; this is the scale shape for k-nearest-facility labelling
    at 10^12 edges.  Output (vkey, dist) for reached vertices,
    hash-checked against graph_oracles.msbfs_fixed_sql."""
    g, ctx = _events_ctx(spark, sf_dir)
    try:
        src = spark.createDataFrame(
            [(i,) for i in range(_MSBFS_SEEDS)], "vid long"
        )
        res = run_program(ctx, BFSProgram(src), fixed_iters=_BFS_STEPS)
        return (
            res.state.where(F.col("dist") < F.lit(int(BFS_INF)))
            .join(g.vertices.select("vid", "vkey"), "vid")
            .select("vkey", "dist")
        )
    finally:
        ctx.unpersist()


SQL_ENGINE_MSBFS = msbfs_fixed_sql(_BFS_STEPS, _MSBFS_SEEDS)

_KCENTER_K = 3


def engine_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gonzalez farthest-first k-center over the undirected events graph:
    center 1 = vid 0 (min vkey); each next center = the farthest finite-
    distance vertex (ties -> min vkey) of a multi-source BFS from the
    centers so far; final output = closest-center distance per vertex
    with an is_center flag.  The greedy gives the classic 2-approximation
    for the k-center objective.

    Scale posture: k-1 engine traversals + a final one, each ONE
    frontier-sparse superstep sweep regardless of center count (msbfs
    min-combine); the per-round argmax is a bounded 1-row collect — the
    same contract as engine_diameter2sweep's source picks.  Output
    (vkey, dist, is_center)."""
    g, ctx = _events_ctx(spark, sf_dir)
    try:
        vmap = g.vertices.select("vid", "vkey")
        centers = [0]
        for _round in range(_KCENTER_K - 1):
            src = spark.createDataFrame([(c,) for c in centers], "vid long")
            res = run_program(ctx, BFSProgram(src), fixed_iters=_BFS_STEPS)
            far = (
                res.state.where(F.col("dist") < F.lit(int(BFS_INF)))
                .join(vmap, "vid")
                .orderBy(F.desc("dist"), F.asc("vkey"))
                .limit(1)
                .collect()
            )
            centers.append(int(far[0]["vid"]))
        src = spark.createDataFrame([(c,) for c in centers], "vid long")
        res = run_program(ctx, BFSProgram(src), fixed_iters=_BFS_STEPS)
        cset = {int(c) for c in centers}
        return (
            res.state.where(F.col("dist") < F.lit(int(BFS_INF)))
            .join(vmap, "vid")
            .select(
                "vkey",
                "dist",
                F.col("vid").isin(*cset).cast("long").alias("is_center"),
            )
        )
    finally:
        ctx.unpersist()


SQL_ENGINE_KCENTER = kcenter_fixed_sql(_BFS_STEPS, _KCENTER_K)

_LT_SEEDS = 5


def engine_ltcascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic linear-threshold influence cascade on the engine
    (pregel.LTCascadeProgram): seeds = 5 smallest vkeys, threshold
    theta(v) = 1 + (md5int(vkey) % max(1, deg(v) div 2)) over the
    UNDIRECTED simple graph (unit weights), fixed 6 supersteps.
    Frontier-sparse in the strongest sense — each edge scatters at most
    once over the whole run, so cascade cost tracks the influenced
    subgraph, not iterations x E.  Output (vkey, rnd, infl) for vertices
    activated within the horizon; exact-int64 hash vs the unrolled
    oracle."""
    g, ctx = _events_ctx(spark, sf_dir)
    try:
        vmap = g.vertices.select("vid", "vkey")
        seeds = vmap.orderBy("vkey").limit(_LT_SEEDS).select("vid")
        e = g.edges.where(F.col("src") != F.col("dst")).select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        ).distinct()
        deg = (
            e.select(F.col("u").alias("vid"))
            .unionByName(e.select(F.col("v").alias("vid")))
            .groupBy("vid")
            .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        )
        th = (
            vmap.join(deg, "vid")
            .select(
                "vid",
                (
                    F.lit(1)
                    + F.pmod(
                        F.conv(F.substring(F.md5("vkey"), 1, 15), 16, 10).cast("long"),
                        F.greatest(F.lit(1), F.expr("deg div 2")),
                    )
                ).alias("theta"),
            )
        )
        res = run_program(
            ctx, LTCascadeProgram(seeds, th), fixed_iters=_BFS_STEPS
        )
        return (
            res.state.where(F.col("rnd") < F.lit(int(BFS_INF)))
            .join(vmap, "vid")
            .select("vkey", "rnd", "infl")
        )
    finally:
        ctx.unpersist()


SQL_ENGINE_LTCASCADE = ltcascade_fixed_sql(_BFS_STEPS, _LT_SEEDS)

_HARMONIC_SEEDS = 3


def engine_harmonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landmark harmonic centrality: one fixed-6-superstep BFS per seed
    (the 3 lowest-vkey vertices == vids 0..2 under sorted assignment),
    reduced to harmonic(v) = Σ_{s: 0<d(s,v)<=6} 1/d(s,v).

    Landmark BFS is the standard scale path for distance centralities —
    exact all-pairs is Θ(V·E); k independent BFS runs are k× the engine's
    frontier-sparse superstep cost and embarrassingly parallel across
    landmarks on a real cluster (here run serially on the shared CSR ctx).
    Hash-checked against graph_oracles.harmonic_fixed_sql."""
    g, ctx = _events_ctx(spark, sf_dir)
    try:
        parts = []
        for s in range(_HARMONIC_SEEDS):
            src = spark.createDataFrame([(s,)], "vid long")
            res = run_program(ctx, BFSProgram(src), fixed_iters=_BFS_STEPS)
            parts.append(
                res.state.where(F.col("dist") < F.lit(int(BFS_INF))).select(
                    "vid", "dist"
                )
            )
        alld = parts[0]
        for p in parts[1:]:
            alld = alld.unionByName(p)
        inv = F.when(F.col("dist") > 0, 1.0 / F.col("dist"))
        return (
            alld.groupBy("vid")
            .agg(
                F.count_if(F.col("dist") > 0).alias("n_reached"),
                (F.round(F.coalesce(F.sum(inv), F.lit(0.0)), 6) + 0.0).alias(
                    "harmonic"
                ),
            )
            .join(g.vertices.select("vid", "vkey"), "vid")
            .select("vkey", "n_reached", "harmonic")
        )
    finally:
        ctx.unpersist()


SQL_ENGINE_HARMONIC = harmonic_fixed_sql(_BFS_STEPS, _HARMONIC_SEEDS)


def engine_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot SCC membership via forward-backward reachability — the core
    step of distributed FW-BW SCC: v is in the pivot's strongly-connected
    component iff pivot reaches v AND v reaches pivot (both bounded at 6
    hops here for the fixed-iteration oracle).

    Two unit-weight SSSPProgram runs on the DIRECTED events graph — the
    second on the reversed edge table (a second CSR build; on a cluster the
    reverse blocks would be built once and reused across pivots).  Output
    (vkey, fwd_hops, bwd_hops) for the bounded SCC members."""
    from .derive import GraphTables, build_degrees

    g = events_graph(load_table(spark, sf_dir, "events"))
    uniq = g.edges.select("src", "dst").distinct()
    e_fwd = uniq.select(
        "src", "dst", F.lit("x").alias("etype"), F.lit(1.0).alias("w")
    )
    e_bwd = e_fwd.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), "etype", "w"
    )
    src = spark.createDataFrame([(0,)], "vid long")
    dists = []
    for e in (e_fwd, e_bwd):
        gg = GraphTables(
            vertices=g.vertices, edges=e, degrees=build_degrees(e, g.vertices)
        )
        ctx = GraphContext.build(gg, _P)
        try:
            res = run_program(ctx, SSSPProgram(src), fixed_iters=_BFS_STEPS)
            dists.append(
                res.state.where(F.col("dist") != F.lit(float("inf"))).select(
                    "vid", F.col("dist").cast("long").alias("hops")
                )
            )
        finally:
            ctx.unpersist()
    fwd, bwd = dists
    return (
        fwd.withColumnRenamed("hops", "fwd_hops")
        .join(bwd.withColumnRenamed("hops", "bwd_hops"), "vid")
        .join(g.vertices.select("vid", "vkey"), "vid")
        .select("vkey", "fwd_hops", "bwd_hops")
    )


SQL_ENGINE_SCC = scc_pivot_fixed_sql(_BFS_STEPS)


def q_bowtie(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broder-et-al. bowtie profile of the directed events graph around the
    min-vkey pivot — THE web-graph macro-structure summary: CORE (pivot's
    bounded SCC), IN (reaches pivot), OUT (pivot reaches), TENDRIL (pivot's
    weak component, neither direction), DISCONNECTED (other weak
    components).  Composes three engine runs: two bounded unit-weight SSSP
    passes (forward + reversed edge table, as in engine_scc) and one exact
    hash-min CC pass for the weak component; the pivot's component label is
    a 1-row broadcast, never a collect.  Output (region, n_vertices)."""
    from .derive import GraphTables, build_degrees

    g = events_graph(load_table(spark, sf_dir, "events"))
    uniq = g.edges.select("src", "dst").distinct()
    e_fwd = uniq.select(
        "src", "dst", F.lit("x").alias("etype"), F.lit(1.0).alias("w")
    )
    e_bwd = e_fwd.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), "etype", "w"
    )
    src = spark.createDataFrame([(0,)], "vid long")
    reached = []
    for e in (e_fwd, e_bwd):
        gg = GraphTables(
            vertices=g.vertices, edges=e, degrees=build_degrees(e, g.vertices)
        )
        ctx = GraphContext.build(gg, _P)
        try:
            res = run_program(ctx, SSSPProgram(src), fixed_iters=_BFS_STEPS)
            reached.append(
                res.state.where(F.col("dist") != F.lit(float("inf")))
                .select("vid")
                .withColumn("_r", F.lit(True))
            )
        finally:
            ctx.unpersist()
    fwd, bwd = reached
    ctx = GraphContext.build(g, _P)
    try:
        cc = run_program(ctx, ComponentsProgram(), max_iter=100)
        if not cc.converged:
            raise RuntimeError("q_bowtie: CC did not converge")
        pc = cc.state.where(F.col("vid") == 0).select(F.col("comp").alias("_pc"))
        wcc = (
            cc.state.join(F.broadcast(pc), F.col("comp") == F.col("_pc"))
            .select("vid")
            .withColumn("_w", F.lit(True))
        )
        region = (
            F.when(F.col("_f") & F.col("_b"), F.lit("core"))
            .when(F.col("_b"), F.lit("in"))
            .when(F.col("_f"), F.lit("out"))
            .when(F.col("_w"), F.lit("tendril"))
            .otherwise(F.lit("disconnected"))
        )
        return (
            g.vertices.select("vid")
            .join(fwd.withColumnRenamed("_r", "_f"), "vid", "left")
            .join(bwd.withColumnRenamed("_r", "_b"), "vid", "left")
            .join(wcc, "vid", "left")
            .select(region.alias("region"))
            .groupBy("region")
            .agg(F.count(F.lit(1)).alias("n_vertices"))
        )
    finally:
        ctx.unpersist()



_KATZ_ALPHA, _KATZ_BETA, _KATZ_STEPS = 0.01, 1.0, 5


def engine_katz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Katz centrality, FIXED 5 power-series iterations on the directed
    weighted events graph; top-20 by rounded value.  Exercises the packed
    scatter on the RAW weights array (pregel.KatzProgram) — hash-checked
    against graph_oracles.katz_fixed_sql."""
    g, ctx = _events_ctx(spark, sf_dir)
    try:
        res = run_program(
            ctx,
            KatzProgram(alpha=_KATZ_ALPHA, beta=_KATZ_BETA, tol=0.0),
            fixed_iters=_KATZ_STEPS,
        )
        return (
            res.state.join(g.vertices, "vid")
            .select("vkey", (F.round("rank", 6) + 0.0).alias("katz"))
            .orderBy(F.desc("katz"), "vkey")
            .limit(20)
        )
    finally:
        ctx.unpersist()


SQL_ENGINE_KATZ = katz_fixed_sql(_KATZ_STEPS, 20, _KATZ_ALPHA, _KATZ_BETA)

_EIG_STEPS = 4


def engine_eigenvector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eigenvector centrality, FIXED 4 truncated power iterations on the
    directed weighted events graph, L1-normalized once at the end (a single
    global agg broadcast back — no per-superstep barrier); top-20 by rounded
    value — hash-checked against graph_oracles.eigenvector_fixed_sql."""
    g, ctx = _events_ctx(spark, sf_dir)
    try:
        res = run_program(ctx, EigenvectorProgram(), fixed_iters=_EIG_STEPS)
        tot = res.state.agg(F.sum("rank").alias("_tot"))
        return (
            res.state.crossJoin(F.broadcast(tot))
            .join(g.vertices.select("vid", "vkey"), "vid")
            .select(
                "vkey",
                (F.round(F.col("rank") / F.col("_tot"), 6) + 0.0).alias("eig"),
            )
            .orderBy(F.desc("eig"), "vkey")
            .limit(20)
        )
    finally:
        ctx.unpersist()


SQL_ENGINE_EIGENVECTOR = eigenvector_fixed_sql(_EIG_STEPS, 20)


def q_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the 5-superstep LPA partition, one row per
    community: q_contrib_c = in_c/m2 − (d_c/m2)² over the undirected simple
    events graph (m2 = directed adjacency count = 2m).

    Labels come from the REAL engine (LabelPropProgram, same run as
    engine_labelprop); the quality metric itself is a pure-Catalyst plan —
    adjacency symmetrize + two hash aggregates + one equi-join, every
    aggregate partial (map-side combinable), so at 100 TB the cost is the
    label join, which shuffles on vid like every other engine output."""
    g, ctx = _events_ctx(spark, sf_dir)
    try:
        res = run_program(ctx, LabelPropProgram(), fixed_iters=_LPA_STEPS)
        v = g.vertices.select("vkey", "vid")
        lab_key = v.select(F.col("vid").alias("label"), F.col("vkey").alias("label_key"))
        # ``lab`` feeds three consumers (la, lb, comm) and ``adj_k`` three
        # (m2, degv, intra); both are also consumed AFTER ctx.unpersist(),
        # so left lazy the returned plan re-derived the full graph + LPA
        # output per reference with cold caches (146 Exchanges / 216 scans,
        # 9.6 s at sf0.01).  Materialize once while the caches are hot
        # (guide §2.4).
        lab = (
            res.state.join(v, "vid").join(lab_key, "label")
            .select("vkey", "label_key")
            .localCheckpoint()
        )
        und = (
            g.edges.where(F.col("src") != F.col("dst"))
            .select(F.col("src").alias("x"), F.col("dst").alias("y"))
            .distinct()
        )
        adj = und.select(F.col("x").alias("a"), F.col("y").alias("b")).unionByName(
            und.select(F.col("y").alias("a"), F.col("x").alias("b"))
        ).distinct()
        # vid -> vkey on both endpoints so the agg keys match the oracle
        va = v.select(F.col("vid").alias("a"), F.col("vkey").alias("ka"))
        vb = v.select(F.col("vid").alias("b"), F.col("vkey").alias("kb"))
        adj_k = adj.join(va, "a").join(vb, "b").select("ka", "kb").localCheckpoint()
        m2 = adj_k.agg(F.count(F.lit(1)).cast("double").alias("_m2"))
        degv = adj_k.groupBy(F.col("ka").alias("vkey")).agg(F.count(F.lit(1)).alias("deg"))
        la = lab.select(F.col("vkey").alias("ka"), F.col("label_key").alias("la"))
        lb = lab.select(F.col("vkey").alias("kb"), F.col("label_key").alias("lb"))
        intra = (
            adj_k.join(la, "ka").join(lb, "kb")
            .where(F.col("la") == F.col("lb"))
            .groupBy(F.col("la").alias("label_key"))
            .agg(F.count(F.lit(1)).alias("internal_pairs"))
        )
        comm = (
            lab.join(degv, "vkey", "left")
            .groupBy("label_key")
            .agg(
                F.count(F.lit(1)).alias("n_vertices"),
                F.sum(F.coalesce(F.col("deg"), F.lit(0))).alias("deg_sum"),
            )
        )
        return (
            comm.join(intra, "label_key", "left")
            .crossJoin(F.broadcast(m2))
            .select(
                "label_key",
                "n_vertices",
                F.coalesce("internal_pairs", F.lit(0)).alias("internal_pairs"),
                "deg_sum",
                F.round(
                    F.coalesce("internal_pairs", F.lit(0)) / F.col("_m2")
                    - (F.col("deg_sum") / F.col("_m2")) ** 2,
                    6,
                ).alias("q_contrib"),
            )
            .orderBy("label_key")
        )
    finally:
        ctx.unpersist()


SQL_MODULARITY = modularity_fixed_sql(_LPA_STEPS)


def engine_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSR-path weighted SSSP (Bellman-Ford gather-scatter), FIXED 6
    supersteps from the min-vkey vertex over the DIRECTED weighted events
    graph; output (vkey, dist) for reached vertices — hash-checked against
    graph_oracles.sssp_fixed_sql."""
    g, ctx = _events_ctx(spark, sf_dir)
    try:
        src = spark.createDataFrame([(0,)], "vid long")
        res = run_program(ctx, SSSPProgram(src), fixed_iters=_BFS_STEPS)
        return (
            res.state.where(F.col("dist") != F.lit(float("inf")))
            .join(g.vertices.select("vid", "vkey"), "vid")
            .select("vkey", F.round("dist", 6).alias("dist"))
        )
    finally:
        ctx.unpersist()


SQL_ENGINE_SSSP = sssp_fixed_sql(_BFS_STEPS)


def engine_widest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSR-path widest paths (max-bottleneck capacity — the max-min
    semiring sibling of engine_sssp), FIXED 6 supersteps from the min-vkey
    vertex over the DIRECTED weighted events graph; output (vkey, cap) for
    reached non-source vertices — hash-checked against
    graph_oracles.widest_fixed_sql.  Capacities are exact integer edge
    multiplicities (min/max never create new floats)."""
    g, ctx = _events_ctx(spark, sf_dir)
    try:
        src = spark.createDataFrame([(0,)], "vid long")
        res = run_program(ctx, WidestPathProgram(src), fixed_iters=_BFS_STEPS)
        return (
            res.state.where(
                (F.col("cap") != F.lit(float("inf")))
                & (F.col("cap") != F.lit(float("-inf")))
            )
            .join(g.vertices.select("vid", "vkey"), "vid")
            .select("vkey", F.col("cap").cast("long").alias("cap"))
        )
    finally:
        ctx.unpersist()


SQL_ENGINE_WIDEST = widest_fixed_sql(_BFS_STEPS)


def engine_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSR-path personalized PageRank, FIXED 5 supersteps, seeds = the
    actor ('user:*') vertices; top-20 by rounded rank — hash-checked
    against graph_oracles.ppr_fixed_sql."""
    g, ctx = _events_ctx(spark, sf_dir)
    try:
        seeds = g.vertices.where(F.col("vtype") == "actor").select("vid")
        res = run_program(
            ctx, PersonalizedPageRankProgram(seeds, tol=0.0), fixed_iters=_PR_STEPS
        )
        return (
            res.state.join(g.vertices.select("vid", "vkey"), "vid")
            .select("vkey", F.round("rank", 6).alias("rank"))
            .orderBy(F.desc("rank"), "vkey")
            .limit(20)
        )
    finally:
        ctx.unpersist()


SQL_ENGINE_PPR = ppr_fixed_sql(_PR_STEPS, limit=20)


def registry():
    from .graph_oracles import hits_fixed_sql, kcore_fixed_sql, onion_fixed_sql, salsa_fixed_sql
    from .hits import engine_hits, engine_salsa
    from .kcore import engine_kcore, engine_onion
    from .linkpred import (
        SQL_ADAMIC_ADAR,
        SQL_BURT_CONSTRAINT,
        SQL_CLUSTERING_COEFF,
        SQL_DEGREE_HIST,
        SQL_JACCARD_PAIRS,
        SQL_NODE2VEC_WALKS,
        SQL_NEIGHBOR_SAMPLE,
        SQL_RANDOM_WALKS,
        SQL_TEMPORAL_PATHS2,
        SQL_TOOL_COUSAGE,
        _sql_link_negatives,
        q_link_negatives,
        q_adamic_adar,
        q_burt_constraint,
        q_clustering_coeff,
        q_degree_hist,
        q_jaccard_pairs,
        q_node2vec_walks,
        q_neighbor_sample,
        q_random_walks,
        q_temporal_paths2,
        q_tool_cousage,
    )
    from .relational import SQL_TRIANGLE_COUNT

    return {
        "engine_components": (engine_components, SQL_ENGINE_COMPONENTS),
        "engine_components_warm": (engine_components_warm, SQL_ENGINE_COMPONENTS),
        "component_sizes": (engine_component_sizes, SQL_ENGINE_COMPONENT_SIZES),
        "engine_bipartite": (engine_bipartite, SQL_ENGINE_BIPARTITE),
        "engine_triangles": (engine_triangles, SQL_TRIANGLE_COUNT),
        "engine_pagerank": (engine_pagerank, SQL_ENGINE_PAGERANK),
        "engine_labelprop": (engine_labelprop, SQL_ENGINE_LABELPROP),
        "engine_kcore": (engine_kcore, kcore_fixed_sql(3, 8)),
        "engine_onion": (engine_onion, onion_fixed_sql(3, 8)),
        "engine_bfs": (engine_bfs, SQL_ENGINE_BFS),
        "engine_msbfs": (engine_msbfs, SQL_ENGINE_MSBFS),
        "engine_kcenter": (engine_kcenter, SQL_ENGINE_KCENTER),
        "engine_ltcascade": (engine_ltcascade, SQL_ENGINE_LTCASCADE),
        "engine_harmonic": (engine_harmonic, SQL_ENGINE_HARMONIC),
        "engine_scc": (engine_scc, SQL_ENGINE_SCC),
        "bowtie": (q_bowtie, bowtie_fixed_sql(_BFS_STEPS)),
        "engine_katz": (engine_katz, SQL_ENGINE_KATZ),
        "engine_eigenvector": (engine_eigenvector, SQL_ENGINE_EIGENVECTOR),
        "modularity": (q_modularity, SQL_MODULARITY),
        "engine_sssp": (engine_sssp, SQL_ENGINE_SSSP),
        "engine_widest": (engine_widest, SQL_ENGINE_WIDEST),
        "engine_ppr": (engine_ppr, SQL_ENGINE_PPR),
        "engine_hits": (engine_hits, hits_fixed_sql(5, 20)),
        "engine_salsa": (engine_salsa, salsa_fixed_sql(5, 20)),
        "clustering_coeff": (q_clustering_coeff, SQL_CLUSTERING_COEFF),
        "burt_constraint": (q_burt_constraint, SQL_BURT_CONSTRAINT),
        "jaccard_pairs": (q_jaccard_pairs, SQL_JACCARD_PAIRS),
        "adamic_adar": (q_adamic_adar, SQL_ADAMIC_ADAR),
        "degree_hist": (q_degree_hist, SQL_DEGREE_HIST),
        "random_walks": (q_random_walks, SQL_RANDOM_WALKS),
        "neighbor_sample": (q_neighbor_sample, SQL_NEIGHBOR_SAMPLE),
        "node2vec_walks": (q_node2vec_walks, SQL_NODE2VEC_WALKS),
        "tool_cousage": (q_tool_cousage, SQL_TOOL_COUSAGE),
        "temporal_paths2": (q_temporal_paths2, SQL_TEMPORAL_PATHS2),
        "link_negatives": (q_link_negatives, _sql_link_negatives()),
    }
