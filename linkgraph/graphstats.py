"""Whole-graph structure statistics: edge reciprocity, degree
assortativity, and a double-sweep diameter lower bound (SURVEY.md §2.15).

Classic link-graph summary metrics (Newman 2002 assortativity; the
double-sweep heuristic of Magnien/Latapy/Habib for diameter bounds), all
over the events-derived transcript graph:

- ``graph_reciprocity`` / ``degree_assortativity`` are pure Catalyst plans
  (joins + hash aggregates + a corr aggregate); nothing leaves the JVM.
- ``engine_diameter2sweep`` exercises the real CSR/Pregel BFS engine twice
  (fixed supersteps so the unrolled-CTE DuckDB oracle replays the exact
  same frontier schedule), picking the second source as the farthest
  vertex of the first sweep (max dist, min-vkey tiebreak).

Scale notes (100 TB posture):
- reciprocity: one distinct on the edge list + one self equi-join on the
  reversed key — both shuffle on (s,t); no fan-out beyond the edge count.
- assortativity: degrees are a hash aggregate over the undirected view;
  the corr() runs as a single partial-aggregable pass over edges.
- double sweep: 2 fixed-depth BFS runs through the frontier-sparse engine
  (message volume tracks the frontier) + two 1-row bounded collects to
  pick sources — the canonical cheap diameter estimator at web scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .graph_oracles import _GRAPH_CTES
from .io import load_table

_DIAM_STEPS = 10  # fixed BFS depth per sweep (covers gate-scale graphs)


# --------------------------------------------------------------------------
# shared: directed simple edge set (vkey space) straight off events
# --------------------------------------------------------------------------

def _directed_simple(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (s, t) directed edges of the events graph, self-loops
    dropped — mirrors the ``ek`` CTE of graph_oracles._GRAPH_CTES."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    turn = (
        e.select(
            F.col("event_type").alias("s"),
            F.lead("event_type").over(w).alias("t"),
        )
        .where(F.col("t").isNotNull())
    )
    tool = e.select(
        F.concat(F.lit("user:"), F.col("user_id").cast("string")).alias("s"),
        F.col("event_type").alias("t"),
    )
    return (
        turn.unionByName(tool)
        .where(F.col("s") != F.col("t"))
        .distinct()
    )


# --------------------------------------------------------------------------
# reciprocity
# --------------------------------------------------------------------------

def q_graph_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fraction of directed simple edges (s,t) whose reverse (t,s) also
    exists.  Output one row (n_edges, n_reciprocal, reciprocity)."""
    dk = _directed_simple(spark, sf_dir)
    rev = dk.select(
        F.col("t").alias("s"), F.col("s").alias("t"), F.lit(1).alias("r")
    )
    marked = dk.join(rev, ["s", "t"], "left")
    return marked.agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.sum(F.coalesce(F.col("r"), F.lit(0))).alias("n_reciprocal"),
        F.round(F.avg(F.coalesce(F.col("r"), F.lit(0))), 6).alias("reciprocity"),
    )


SQL_GRAPH_RECIPROCITY = (
    "WITH "
    + _GRAPH_CTES
    + """,
dk AS (SELECT DISTINCT s, t FROM ek WHERE s <> t),
marked AS (
  SELECT dk.s, dk.t, CASE WHEN r.s IS NULL THEN 0 ELSE 1 END AS r
  FROM dk LEFT JOIN dk r ON r.s = dk.t AND r.t = dk.s
)
SELECT count(*) AS n_edges,
       CAST(sum(r) AS BIGINT) AS n_reciprocal,
       round(avg(CAST(r AS DOUBLE)), 6) AS reciprocity
FROM marked
"""
)


# --------------------------------------------------------------------------
# degree Gini coefficient (§2.15 row 210): inequality of the out-degree
# distribution, zeros included — the single-number skew audit that says
# whether a hub split will pay before any CSR block is built.  G =
# (2·Σᵢ i·dᵢ)/(n·Σd) − (n+1)/n over ascending-sorted degrees; ties make
# the rank-sum order-free, so it is computed EXACTLY from the degree
# histogram: a block of c equal values d starting after cb smaller ones
# contributes d·(2·c·cb + c·(c+1)) to 2·Σ i·dᵢ.
# --------------------------------------------------------------------------

def q_degree_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row (n_vertices, sum_deg, gini_micro): out-degree Gini of the
    directed simple events graph, all vertices (zero out-degree included),
    Gini shipped as exact int64 micro-units — G = (2S − (n+1)T)/(nT) with
    2S, n, T integer reductions over the DEGREE HISTOGRAM, so the global
    sort this usually needs collapses to a window over ~hundreds of
    distinct degree values (histogram-sized, not graph-sized — the 100 TB
    shape; int64 headroom to ~1e8 vertices, decimal(38,0) beyond)."""
    dk = _directed_simple(spark, sf_dir)
    verts = (
        dk.select(F.col("s").alias("v"))
        .unionByName(dk.select(F.col("t").alias("v")))
        .distinct()
    )
    outd = dk.groupBy(F.col("s").alias("v")).agg(F.count(F.lit(1)).alias("od"))
    deg = verts.join(outd, "v", "left").select(
        F.coalesce("od", F.lit(0)).cast("long").alias("d")
    )
    hist = deg.groupBy("d").agg(F.count(F.lit(1)).alias("c"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, -1)
    cum = hist.select(
        "d", "c", F.coalesce(F.sum("c").over(w), F.lit(0)).alias("cb")
    )
    agg = cum.agg(
        F.sum(
            F.col("d") * (F.lit(2) * F.col("c") * F.col("cb")
                          + F.col("c") * (F.col("c") + 1))
        ).alias("s2"),
        F.sum("c").alias("n"),
        F.sum(F.col("d") * F.col("c")).alias("t"),
    )
    gn = F.col("s2") - (F.col("n") + 1) * F.col("t")
    gd = F.col("n") * F.col("t")
    a = F.lit(2000000).cast("long") * gn + gd
    b = F.lit(2).cast("long") * gd
    return agg.select(
        F.col("n").alias("n_vertices"),
        F.col("t").alias("sum_deg"),
        ((a - a % b) / b).cast("long").alias("gini_micro"),
    )


SQL_DEGREE_GINI = (
    "WITH "
    + _GRAPH_CTES
    + """,
dk AS (SELECT DISTINCT s, t FROM ek WHERE s <> t),
verts AS (SELECT s AS v FROM dk UNION SELECT t AS v FROM dk),
outd AS (SELECT s AS v, count(*) AS od FROM dk GROUP BY s),
deg AS (SELECT CAST(coalesce(outd.od, 0) AS BIGINT) AS d
        FROM verts LEFT JOIN outd USING (v)),
hist AS (SELECT d, count(*) AS c FROM deg GROUP BY d),
cum AS (SELECT d, c,
               coalesce(sum(c) OVER (ORDER BY d
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        FROM hist),
agg AS (SELECT CAST(sum(d * (2 * c * cb + c * (c + 1))) AS BIGINT) AS s2,
               CAST(sum(c) AS BIGINT) AS n,
               CAST(sum(d * c) AS BIGINT) AS t
        FROM cum)
SELECT n AS n_vertices, t AS sum_deg,
       CAST((2000000 * (s2 - (n + 1) * t) + n * t) // (2 * n * t)
            AS BIGINT) AS gini_micro
FROM agg
"""
)


# --------------------------------------------------------------------------
# actor/tool type mixing matrix + discrete assortativity (Newman 2003
# "Mixing patterns in networks": r = (Σe_ii − Σa_i·b_i)/(1 − Σa_i·b_i)
# over the edge-type fraction matrix; a=row sums, b=col sums).  Payload-
# specific: vertices are conversation actors ('user:…') vs tools, so the
# matrix answers "do tools link to tools or do actors drive everything".
# --------------------------------------------------------------------------

def q_type_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed mixing matrix over endpoint types plus Newman's discrete
    assortativity, constant on every row.  Output (src_type, dst_type,
    n_edges, frac, r_discrete).  All marginal/trace reductions run over
    the ≤4-row matrix — the only data-sized pass is the distinct edge
    groupBy (map-side combinable)."""

    def typ(c: str):
        return (
            F.when(F.col(c).startswith("user:"), F.lit("actor"))
            .otherwise(F.lit("tool"))
        )

    dk = _directed_simple(spark, sf_dir)
    mat = (
        dk.select(typ("s").alias("src_type"), typ("t").alias("dst_type"))
        .groupBy("src_type", "dst_type")
        .agg(F.count(F.lit(1)).alias("n_edges"))
    )
    tot = mat.agg(F.sum("n_edges").cast("double").alias("tot"))
    e = mat.crossJoin(F.broadcast(tot)).withColumn(
        "frac", F.col("n_edges") / F.col("tot")
    )
    a = e.groupBy(F.col("src_type").alias("tt")).agg(F.sum("frac").alias("a"))
    b = e.groupBy(F.col("dst_type").alias("tt")).agg(F.sum("frac").alias("b"))
    sab = (
        a.join(b, "tt", "full")
        .agg(
            F.sum(
                F.coalesce(F.col("a"), F.lit(0.0))
                * F.coalesce(F.col("b"), F.lit(0.0))
            ).alias("sab")
        )
    )
    tr = e.where(F.col("src_type") == F.col("dst_type")).agg(
        F.coalesce(F.sum("frac"), F.lit(0.0)).alias("tr")
    )
    r = tr.crossJoin(sab).select(
        F.when(
            F.col("sab") < 1.0,
            (F.col("tr") - F.col("sab")) / (F.lit(1.0) - F.col("sab")),
        )
        .otherwise(F.lit(1.0))  # degenerate single-type graph: perfectly assortative
        .alias("r")
    )
    return e.crossJoin(F.broadcast(r)).select(
        "src_type",
        "dst_type",
        "n_edges",
        F.round("frac", 6).alias("frac"),
        F.round("r", 6).alias("r_discrete"),
    )


SQL_TYPE_MIXING = (
    "WITH "
    + _GRAPH_CTES
    + """,
dk AS (SELECT DISTINCT s, t FROM ek WHERE s <> t),
mat AS (
  SELECT CASE WHEN s LIKE 'user:%' THEN 'actor' ELSE 'tool' END AS src_type,
         CASE WHEN t LIKE 'user:%' THEN 'actor' ELSE 'tool' END AS dst_type,
         count(*) AS n_edges
  FROM dk GROUP BY 1, 2
), tot AS (SELECT CAST(sum(n_edges) AS DOUBLE) AS tot FROM mat),
em AS (
  SELECT src_type, dst_type, n_edges, n_edges / tot AS frac FROM mat, tot
), am AS (SELECT src_type AS tt, sum(frac) AS a FROM em GROUP BY 1),
bm AS (SELECT dst_type AS tt, sum(frac) AS b FROM em GROUP BY 1),
sab AS (
  SELECT sum(coalesce(a, 0) * coalesce(b, 0)) AS sab
  FROM am FULL JOIN bm USING (tt)
), tr AS (
  SELECT coalesce(sum(frac), 0) AS tr FROM em WHERE src_type = dst_type
)
SELECT src_type, dst_type, n_edges, round(frac, 6) AS frac,
       round(CASE WHEN sab < 1 THEN (tr - sab) / (1 - sab) ELSE 1.0 END, 6)
         AS r_discrete
FROM em, sab, tr
"""
)


# --------------------------------------------------------------------------
# degree assortativity (Newman 2002: Pearson corr of endpoint degrees
# over the directed-both-ways undirected simple edge list)
# --------------------------------------------------------------------------

def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity coefficient of the undirected simple events
    graph.  Output one row (n_half_edges, assortativity)."""
    dk = _directed_simple(spark, sf_dir)
    und = (
        dk.select("s", "t")
        .unionByName(dk.select(F.col("t").alias("s"), F.col("s").alias("t")))
        .distinct()
    )
    deg = und.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    da = deg.select(F.col("s"), F.col("deg").alias("da"))
    db = deg.select(F.col("s").alias("t"), F.col("deg").alias("db"))
    pairs = und.join(da, "s").join(db, "t")
    return pairs.agg(
        F.count(F.lit(1)).alias("n_half_edges"),
        F.round(F.corr(F.col("da").cast("double"), F.col("db").cast("double")), 6).alias(
            "assortativity"
        ),
    )


SQL_DEGREE_ASSORTATIVITY = (
    "WITH "
    + _GRAPH_CTES
    + """,
dk AS (SELECT DISTINCT s, t FROM ek WHERE s <> t),
und AS (SELECT DISTINCT s, t FROM
        (SELECT s, t FROM dk UNION ALL SELECT t AS s, s AS t FROM dk)),
deg AS (SELECT s, count(*) AS deg FROM und GROUP BY s)
SELECT count(*) AS n_half_edges,
       round(corr(CAST(a.deg AS DOUBLE), CAST(b.deg AS DOUBLE)), 6) AS assortativity
FROM und JOIN deg a ON a.s = und.s JOIN deg b ON b.s = und.t
"""
)


# --------------------------------------------------------------------------
# per-tool transition entropy (§2.15 row 203): Shannon entropy of the
# next-event-type distribution after each tool — how predictable the
# conversation flow is from the current step (0 bits = deterministic
# pipeline, log2(k) = uniform fan-out).  The sequence-model statistic of
# the transcript stream, directly off the consecutive-turn pairs.
# --------------------------------------------------------------------------

def q_transition_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per current event_type: number of observed transitions, distinct
    successor types, and entropy (bits) of the successor distribution.
    Two stacked map-side-combinable groupBys over the lead() pairs — one
    user_id window shuffle + one tiny (s,t)-level reduction; no UDF.
    Output (event_type, n_transitions, n_next, entropy_bits)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.select(
            F.col("event_type").alias("s"),
            F.lead("event_type").over(w).alias("t"),
        )
        .where(F.col("t").isNotNull())
    )
    st = pairs.groupBy("s", "t").agg(F.count(F.lit(1)).alias("c"))
    tot = st.groupBy("s").agg(F.sum("c").alias("n"))
    p = st.join(tot, "s").select(
        "s", "c", "n", (F.col("c") / F.col("n")).alias("p")
    )
    return (
        p.groupBy("s")
        .agg(
            F.max("n").alias("n_transitions"),
            F.count(F.lit(1)).alias("n_next"),
            F.round(-F.sum(F.col("p") * F.log2("p")), 6).alias("entropy_bits"),
        )
        .select(F.col("s").alias("event_type"), "n_transitions", "n_next",
                "entropy_bits")
    )


SQL_TRANSITION_ENTROPY = """
WITH turn AS (
  SELECT event_type AS s,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t
  FROM events
), st AS (
  SELECT s, t, count(*) AS c FROM turn WHERE t IS NOT NULL GROUP BY s, t
), tot AS (
  SELECT s, sum(c) AS n FROM st GROUP BY s
)
SELECT st.s AS event_type,
       CAST(max(tot.n) AS BIGINT) AS n_transitions,
       count(*) AS n_next,
       round(-sum((CAST(c AS DOUBLE) / n) * log2(CAST(c AS DOUBLE) / n)), 6)
         AS entropy_bits
FROM st JOIN tot USING (s)
GROUP BY st.s
"""


# --------------------------------------------------------------------------
# average-neighbor-degree connectivity curve knn(k) (Pastor-Satorras et
# al. 2001): the degree-correlation PROFILE behind the assortativity
# scalar — rising knn(k) = assortative, falling = hub-and-spoke.
# --------------------------------------------------------------------------

def q_degree_connectivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """knn(k) over the undirected simple events graph: for each degree k,
    the mean over degree-k vertices of their neighbors' mean degree.
    Output (deg, n_nodes, knn).  Same shuffles as assortativity (two
    degree joins + two combinable groupBys) — the per-degree reduction is
    tiny (distinct degree values ≪ V)."""
    dk = _directed_simple(spark, sf_dir)
    und = (
        dk.select("s", "t")
        .unionByName(dk.select(F.col("t").alias("s"), F.col("s").alias("t")))
        .distinct()
    )
    deg = und.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    db = deg.select(F.col("s").alias("t"), F.col("deg").alias("db"))
    per_node = (
        und.join(db, "t")
        .groupBy("s")
        .agg(F.avg(F.col("db").cast("double")).alias("mnd"))
    )
    return (
        per_node.join(deg, "s")
        .groupBy("deg")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.round(F.avg("mnd"), 6).alias("knn"),
        )
    )


SQL_DEGREE_CONNECTIVITY = (
    "WITH "
    + _GRAPH_CTES
    + """,
dk AS (SELECT DISTINCT s, t FROM ek WHERE s <> t),
und AS (SELECT DISTINCT s, t FROM
        (SELECT s, t FROM dk UNION ALL SELECT t AS s, s AS t FROM dk)),
deg AS (SELECT s, count(*) AS deg FROM und GROUP BY s),
pn AS (
  SELECT und.s, avg(CAST(b.deg AS DOUBLE)) AS mnd
  FROM und JOIN deg b ON b.s = und.t GROUP BY und.s
)
SELECT deg.deg, count(*) AS n_nodes, round(avg(pn.mnd), 6) AS knn
FROM pn JOIN deg ON deg.s = pn.s
GROUP BY deg.deg
"""
)


# --------------------------------------------------------------------------
# double-sweep diameter lower bound (2 fixed-depth engine BFS runs)
# --------------------------------------------------------------------------

def q_engine_diameter2sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double-sweep BFS diameter lower bound on the undirected simple
    events graph via the CSR/Pregel engine: sweep 1 from the min-vkey
    vertex, sweep 2 from sweep 1's farthest vertex (max dist, min-vkey
    tiebreak).  Both sweeps run FIXED ``_DIAM_STEPS`` supersteps so the
    unrolled-CTE oracle replays the identical schedule.  Output one row
    (src_vkey, far_vkey, ecc_from_src, diameter_lb)."""
    from .engine_queries import _events_ctx
    from .pregel import BFS_INF, BFSProgram, run_program

    g, ctx = _events_ctx(spark, sf_dir)
    try:
        vkeys = g.vertices.select("vid", "vkey")
        src0 = spark.createDataFrame([(0,)], "vid long")  # vid 0 == min vkey
        res1 = run_program(ctx, BFSProgram(src0), fixed_iters=_DIAM_STEPS)
        # bounded 1-row collect: the farthest vertex of sweep 1
        far = (
            res1.state.where(F.col("dist") < F.lit(int(BFS_INF)))
            .join(vkeys, "vid")
            .orderBy(F.desc("dist"), F.asc("vkey"))
            .select("vid", "vkey", "dist")
            .first()
        )
        src_key = (
            g.vertices.where(F.col("vid") == 0).select("vkey").first()["vkey"]
        )
        res2 = run_program(
            ctx,
            BFSProgram(spark.createDataFrame([(int(far["vid"]),)], "vid long")),
            fixed_iters=_DIAM_STEPS,
        )
        ecc2 = (
            res2.state.where(F.col("dist") < F.lit(int(BFS_INF)))
            .agg(F.max("dist").alias("m"))
            .first()["m"]
        )
        return spark.createDataFrame(
            [(src_key, far["vkey"], int(far["dist"]), int(ecc2))],
            "src_vkey string, far_vkey string, ecc_from_src bigint, diameter_lb bigint",
        )
    finally:
        ctx.unpersist()


def _bfs_sweep_ctes(prefix: str, src_pred: str, k: int) -> list[str]:
    """Unrolled k-level BFS CTE chain named ``{prefix}d{i}``; source rows
    are those satisfying ``src_pred`` (a predicate over v.vkey)."""
    # every level is MATERIALIZED: DuckDB inlines plain CTEs at each
    # reference, and level i references level i-1 twice (the frontier join
    # and the carry-forward), so a non-materialized k-level unroll expands
    # 2^k-fold and re-opens the parquet scan per copy.
    ctes = [
        f"{prefix}d0 AS MATERIALIZED (SELECT vkey, CASE WHEN {src_pred} "
        "THEN 0 ELSE NULL END AS dist FROM v)"
    ]
    for i in range(1, k + 1):
        p = f"{prefix}d{i - 1}"
        ctes.append(
            f"{prefix}m{i} AS MATERIALIZED (SELECT u.a AS vkey, min(p.dist) + 1 AS nd "
            f"FROM und u JOIN {p} p ON p.vkey = u.b "
            f"WHERE p.dist IS NOT NULL GROUP BY u.a)"
        )
        ctes.append(
            f"{prefix}d{i} AS MATERIALIZED (SELECT p.vkey, CASE "
            f"WHEN p.dist IS NULL THEN m.nd "
            f"WHEN m.nd IS NULL THEN p.dist "
            f"ELSE least(p.dist, m.nd) END AS dist "
            f"FROM {p} p LEFT JOIN {prefix}m{i} m USING (vkey))"
        )
    return ctes


def _diameter2sweep_sql(k: int) -> str:
    ctes = [
        _GRAPH_CTES,
        "und AS (SELECT DISTINCT a, b FROM ("
        "SELECT s AS a, t AS b FROM ek WHERE s <> t "
        "UNION ALL SELECT t AS a, s AS b FROM ek WHERE s <> t))",
    ]
    ctes += _bfs_sweep_ctes("s1", "vkey = (SELECT min(vkey) FROM v)", k)
    ctes.append(
        f"far AS MATERIALIZED (SELECT vkey, dist FROM s1d{k} WHERE dist IS NOT NULL "
        "ORDER BY dist DESC, vkey LIMIT 1)"
    )
    ctes += _bfs_sweep_ctes("s2", "vkey = (SELECT vkey FROM far)", k)
    sql = "WITH " + ",\n".join(ctes)
    # DuckDB inlines (re-expands) non-materialized CTEs at every reference;
    # with 2*k unrolled BFS levels each referencing `und`, that re-opens the
    # events parquet per level and trips the fd limit.  Materialize the
    # fan-in CTEs so each is computed once.
    for name in ("base", "ek", "v", "und"):
        sql = sql.replace(f"{name} AS (", f"{name} AS MATERIALIZED (", 1)
    return (
        sql
        + f"""
SELECT (SELECT min(vkey) FROM v) AS src_vkey,
       (SELECT vkey FROM far) AS far_vkey,
       (SELECT CAST(dist AS BIGINT) FROM far) AS ecc_from_src,
       (SELECT CAST(max(dist) AS BIGINT) FROM s2d{k} WHERE dist IS NOT NULL)
         AS diameter_lb
"""
    )


SQL_ENGINE_DIAMETER2SWEEP = _diameter2sweep_sql(_DIAM_STEPS)


# --------------------------------------------------------------------------
# approximate neighborhood function (ANF) via k-minimum-values sketches —
# the Palmer/Gibbons/Faloutsos ANF / HyperBall family, with a KMV sketch
# instead of HLL registers so BOTH engines replay it bit-for-bit from the
# shared md5->int64 hash (datapipe._md5_int): radius-r sketch of v = the
# _ANF_K smallest distinct vertex hashes within distance r of v.
# --------------------------------------------------------------------------

_ANF_K = 8          # sketch size (k smallest hashes kept per vertex)
_ANF_R = 3          # ball radii 0.._ANF_R
_ANF_SCALE = float(1 << 60)  # md5 15-hex-digit hashes are uniform in [0, 2^60)


def q_anf_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood function N(r) = sum over vertices of the estimated
    ball size |B(v, r)|, r = 0.._ANF_R, over the undirected simple events
    graph — the standard web-graph effective-diameter/ball-growth profile.

    Sketch state is kept as FLAT (v, h) rows (at most _ANF_K per vertex),
    so one ANF round is: edge join (messages = K hashes per edge) →
    union + distinct → per-vertex top-K via row_number.  All JVM-side;
    message volume is bounded by K·|E| per round regardless of ball sizes —
    the property that makes ANF/HyperBall feasible at web scale where exact
    ball enumeration is quadratic.  KMV estimator: |B| is exact (= count)
    while count < K, else (K-1) / (kth_smallest_hash / 2^60).

    Output (radius, nf), one row per radius, nf rounded to 3 decimals.
    """
    from .datapipe import _md5_int

    dk = _directed_simple(spark, sf_dir)
    # und feeds every round's message join and state feeds 3 consumers per
    # round (messages, union, nf estimate) — materialized per round like
    # the oracle's MATERIALIZED und/k{r} CTEs (audit: 160 Exchanges / 208
    # scans lazy — guide §2.4).
    und = (
        dk.unionByName(dk.select(F.col("t").alias("s"), F.col("s").alias("t")))
        .distinct()
        .localCheckpoint()
    )
    verts = (
        und.select(F.col("s").alias("v"))
        .unionByName(und.select(F.col("t").alias("v")))
        .distinct()
    )
    state = verts.select("v", _md5_int(F.col("v")).alias("h")).localCheckpoint()

    def nf_at(st: DataFrame, r: int) -> DataFrame:
        per_v = st.groupBy("v").agg(
            F.count(F.lit(1)).alias("c"), F.max("h").alias("kth")
        )
        est = F.when(
            F.col("c") < _ANF_K, F.col("c").cast("double")
        ).otherwise(F.lit(float(_ANF_K - 1) * _ANF_SCALE) / F.col("kth"))
        return per_v.agg(F.round(F.sum(est), 3).alias("nf")).select(
            F.lit(r).alias("radius"), "nf"
        )

    out = nf_at(state, 0)
    w = Window.partitionBy("v").orderBy("h")
    for r in range(1, _ANF_R + 1):
        msgs = und.join(state.withColumnRenamed("v", "s"), "s").select(
            F.col("t").alias("v"), "h"
        )
        merged = state.unionByName(msgs).distinct()
        state = (
            merged.select("v", "h", F.row_number().over(w).alias("rn"))
            .where(F.col("rn") <= _ANF_K)
            .select("v", "h")
            .localCheckpoint()
        )
        out = out.unionByName(nf_at(state, r))
    return out.orderBy("radius")


def _anf_kmv_sql(k: int, r_max: int) -> str:
    from .datapipe import _sql_md5_int

    est = (
        f"CASE WHEN c < {k} THEN CAST(c AS DOUBLE) "
        f"ELSE {float(k - 1)} * {_ANF_SCALE} / kth END"
    )
    ctes = [
        _GRAPH_CTES,
        "dk AS (SELECT DISTINCT s, t FROM ek WHERE s <> t)",
        "und AS MATERIALIZED (SELECT DISTINCT s, t FROM "
        "(SELECT s, t FROM dk UNION ALL SELECT t AS s, s AS t FROM dk))",
        "av AS (SELECT DISTINCT v FROM "
        "(SELECT s AS v FROM und UNION ALL SELECT t AS v FROM und))",
        f"k0 AS MATERIALIZED (SELECT v, {_sql_md5_int('v')} AS h FROM av)",
    ]
    nfs = [
        f"nf0 AS (SELECT 0 AS radius, round(sum({est}), 3) AS nf FROM "
        "(SELECT v, count(*) AS c, max(h) AS kth FROM k0 GROUP BY v))"
    ]
    for i in range(1, r_max + 1):
        p = f"k{i - 1}"
        ctes.append(
            f"k{i} AS MATERIALIZED (SELECT v, h FROM ("
            "SELECT v, h, row_number() OVER (PARTITION BY v ORDER BY h) AS rn "
            "FROM (SELECT DISTINCT v, h FROM ("
            f"SELECT v, h FROM {p} "
            f"UNION ALL SELECT u.t AS v, p.h FROM und u JOIN {p} p ON p.v = u.s"
            f"))) WHERE rn <= {k})"
        )
        nfs.append(
            f"nf{i} AS (SELECT {i} AS radius, round(sum({est}), 3) AS nf FROM "
            f"(SELECT v, count(*) AS c, max(h) AS kth FROM k{i} GROUP BY v))"
        )
    union = " UNION ALL ".join(f"SELECT * FROM nf{i}" for i in range(r_max + 1))
    return (
        "WITH " + ",\n".join(ctes + nfs)
        + f"\nSELECT radius, nf FROM ({union}) ORDER BY radius"
    )


SQL_ANF_KMV = _anf_kmv_sql(_ANF_K, _ANF_R)


# --------------------------------------------------------------------------
# k-truss (fixed-round support peeling) — the standard edge-cohesion
# decomposition: keep edges in >= k-2 triangles, recount, repeat.  Fixed
# _TRUSS_ROUNDS so the unrolled-CTE oracle replays the identical cascade
# (pytest asserts the fixture converges within that budget).
# --------------------------------------------------------------------------

_TRUSS_K = 4        # 4-truss: every surviving edge sits in >= 2 triangles
_TRUSS_ROUNDS = 4   # fixed peel rounds (convergence asserted in pytest)


def _peel_once(e: DataFrame, min_sup: int) -> DataFrame:
    """One support-peel round: drop edges of ``e`` (oriented s < t) whose
    triangle support in the CURRENT edge set is below ``min_sup``."""
    u = e.unionByName(e.select(F.col("t").alias("s"), F.col("s").alias("t")))
    x = u.select(F.col("s").alias("a"), F.col("t").alias("c"))
    y = u.select(F.col("s").alias("b"), F.col("t").alias("c2"))
    ren = e.select(F.col("s").alias("es"), F.col("t").alias("et"))
    sup = (
        ren.join(x, F.col("es") == F.col("a"))
        .join(y, (F.col("et") == F.col("b")) & (F.col("c") == F.col("c2")))
        .groupBy("es", "et")
        .agg(F.count(F.lit(1)).alias("sup"))
    )
    return (
        ren.join(sup, ["es", "et"], "left")
        .where(F.coalesce(F.col("sup"), F.lit(0)) >= min_sup)
        .select(F.col("es").alias("s"), F.col("et").alias("t"))
    )


def q_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edges of the 4-truss of the undirected simple events graph
    after ``_TRUSS_ROUNDS`` fixed peel rounds.  Each round is two
    self-equi-joins on the CURRENT edge set (the oriented triangle-count
    shape of triangles.py) + one hash agg — support never materializes the
    triangle set, so a round costs O(sum of degree products) like any
    triangle pass, and the edge set only shrinks.  Output (s, t), s < t."""
    dk = _directed_simple(spark, sf_dir)
    und = (
        dk.unionByName(dk.select(F.col("t").alias("s"), F.col("s").alias("t")))
        .distinct()
    )
    # Each peel round references the current edge set ~5x (both wedge arms,
    # the support join, the anti filter); left lazy the plan multiplies
    # ~5x per round — audited at 7,560 Exchanges / 10,368 scans after 4
    # rounds.  Materialize per round, exactly like the oracle's
    # MATERIALIZED e{i} CTEs (guide §2.4, §3.3).
    e = und.where(F.col("s") < F.col("t")).localCheckpoint()
    for _ in range(_TRUSS_ROUNDS):
        e = _peel_once(e, _TRUSS_K - 2).localCheckpoint()
    return e.orderBy("s", "t")


def _ktruss_sql(min_sup: int, rounds: int) -> str:
    ctes = [
        _GRAPH_CTES,
        "dk AS (SELECT DISTINCT s, t FROM ek WHERE s <> t)",
        "e0 AS MATERIALIZED (SELECT DISTINCT least(s, t) AS s, "
        "greatest(s, t) AS t FROM dk)",
    ]
    for i in range(rounds):
        ctes.append(
            f"u{i} AS MATERIALIZED "
            f"(SELECT s, t FROM e{i} UNION ALL SELECT t AS s, s AS t FROM e{i})"
        )
        ctes.append(
            f"sup{i} AS MATERIALIZED (SELECT e.s, e.t, count(*) AS sup "
            f"FROM e{i} e JOIN u{i} x ON x.s = e.s "
            f"JOIN u{i} y ON y.s = e.t AND y.t = x.t "
            "GROUP BY e.s, e.t)"
        )
        ctes.append(
            f"e{i + 1} AS MATERIALIZED (SELECT e.s, e.t FROM e{i} e "
            f"LEFT JOIN sup{i} p ON p.s = e.s AND p.t = e.t "
            f"WHERE coalesce(p.sup, 0) >= {min_sup})"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT s, t FROM e{rounds} ORDER BY s, t"
    )


SQL_KTRUSS = _ktruss_sql(_TRUSS_K - 2, _TRUSS_ROUNDS)


# --------------------------------------------------------------------------
# global transitivity (global clustering coefficient)
# --------------------------------------------------------------------------

def q_transitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global clustering coefficient 3·triangles / wedges over the
    undirected simple events graph; one row (n_wedges, n_triangles,
    transitivity).

    Triangles use the degree-oriented 2-join shape (u < v orientation —
    each triangle generated once, hub fan-out bounded, same design as
    triangles.py); wedges are a pure hash aggregate Σ deg·(deg−1)/2.  Both
    terms are partial-aggregable, so at 100 TB the cost is the two
    triangle equi-joins — the minimum any exact method pays."""
    dk = _directed_simple(spark, sf_dir)
    und = (
        dk.select(
            F.least("s", "t").alias("u"), F.greatest("s", "t").alias("v")
        )
        .distinct()
    )
    deg = (
        und.select(F.col("u").alias("x"))
        .unionByName(und.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    wedges = deg.agg(
        F.sum(F.col("deg") * (F.col("deg") - 1) / 2).cast("bigint").alias("n_wedges")
    )
    e1 = und
    e2 = und.select(F.col("u").alias("u2"), F.col("v").alias("v2"))
    e3 = und.select(F.col("u").alias("u3"), F.col("v").alias("v3"))
    tris = (
        e1.join(e2, (F.col("u2") == F.col("u")) & (F.col("v2") > F.col("v")))
        .join(e3, (F.col("u3") == F.col("v")) & (F.col("v3") == F.col("v2")))
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return wedges.crossJoin(F.broadcast(tris)).select(
        "n_wedges",
        "n_triangles",
        F.round(3.0 * F.col("n_triangles") / F.col("n_wedges"), 6).alias(
            "transitivity"
        ),
    )


SQL_TRANSITIVITY = (
    "WITH "
    + _GRAPH_CTES
    + """,
und AS (
  SELECT DISTINCT least(s, t) AS u, greatest(s, t) AS v FROM ek WHERE s <> t
), deg AS (
  SELECT x, count(*) AS deg FROM (
    SELECT u AS x FROM und UNION ALL SELECT v AS x FROM und
  ) GROUP BY x
), wedges AS (
  SELECT CAST(sum(deg * (deg - 1) / 2) AS BIGINT) AS n_wedges FROM deg
), tris AS (
  SELECT count(*) AS n_triangles
  FROM und e1
  JOIN und e2 ON e2.u = e1.u AND e2.v > e1.v
  JOIN und e3 ON e3.u = e1.v AND e3.v = e2.v
)
SELECT n_wedges, n_triangles,
       round(3.0 * n_triangles / n_wedges, 6) AS transitivity
FROM wedges, tris
"""
)


# --------------------------------------------------------------------------
# pivot betweenness centrality (truncated Brandes from a fixed pivot set)
# --------------------------------------------------------------------------

_BC_PIVOTS = 4   # pivots = the 4 lexicographically-min ACTOR vkeys (deterministic)
_BC_DEPTH = 8    # shortest paths truncated at 8 hops (gate graphs: diam < 10)
_BC_TOPK = 30


def q_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot betweenness: Brandes dependency accumulation from a FIXED
    pivot set (the _BC_PIVOTS lexicographically-min actor vkeys — actor
    pivots make the metric informative on the transcript graph: tools score
    by how often they broker actor-actor shortest paths), shortest paths
    truncated at _BC_DEPTH hops, over the undirected simple events graph;
    top-_BC_TOPK vertices by summed dependency.

    The standard sampled-pivot betweenness approximation
    (Brandes 2001 accumulation; Riondato-Kornaropoulos-style pivot
    sampling made deterministic for the oracle).  All pivots advance
    level-synchronously in ONE DataFrame keyed by (pivot, vertex):

    - forward: frontier ⋈ edges → groupBy(pivot, v) sum of path counts,
      anti-join vs the cumulative reach set — message volume is
      Σ deg(frontier) per level (frontier-sparse), never V·pivots;
    - backward: per level, one edge join + one combinable groupBy
      distributing (1 + δ_w)/σ_w to predecessors.

    Every join keys on (pivot, vertex) so at 100 TB all shuffles are
    hash-partitioned on the same key; frontier/reach truncate lineage per
    level (eager localCheckpoint, the same discipline pregel.py applies —
    2·_BC_DEPTH chained self-referencing rounds would otherwise double the
    logical plan per level and stall the optimizer long before the data
    costs anything).  The CSR engine is the production home for the
    forward pass — BFSProgram already runs this schedule; the DataFrame
    shape here keeps sigma arithmetic oracle-replayable."""
    dk = _directed_simple(spark, sf_dir)
    und = (
        dk.unionByName(dk.select(F.col("t").alias("s"), F.col("s").alias("t")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    verts = (
        und.select(F.col("s").alias("v"))
        .unionByName(und.select(F.col("t").alias("v")))
        .distinct()
    )
    piv = (
        verts.where(F.col("v").startswith("user:"))
        .orderBy("v")
        .limit(_BC_PIVOTS)
        .select(F.col("v").alias("p"))
    )

    def keep(df: DataFrame) -> DataFrame:
        return df.localCheckpoint(eager=True)

    frontier = keep(
        piv.select("p", F.col("p").alias("v"), F.lit(1.0).alias("sigma"))
    )
    # cumulative reach: (p, v, d, sigma)
    reach = keep(frontier.withColumn("d", F.lit(0)))
    levels = {0: frontier}
    for i in range(1, _BC_DEPTH + 1):
        msgs = frontier.join(und, frontier["v"] == und["s"]).select(
            "p", F.col("t").alias("v"), "sigma"
        )
        nxt = keep(
            msgs.groupBy("p", "v")
            .agg(F.sum("sigma").alias("sigma"))
            .join(reach.select("p", "v"), ["p", "v"], "left_anti")
        )
        levels[i] = nxt
        reach = keep(reach.unionByName(nxt.withColumn("d", F.lit(i))))
        frontier = nxt

    # backward accumulation: delta over levels D-1 .. 1
    delta = keep(levels[_BC_DEPTH].select(
        "p", "v", "sigma", F.lit(0.0).alias("delta")
    ))
    acc = delta.select("p", "v", "delta")
    for i in range(_BC_DEPTH - 1, 0, -1):
        contrib = (
            delta.join(und, delta["v"] == und["t"])
            .groupBy("p", F.col("s").alias("v"))
            .agg(
                F.sum((F.lit(1.0) + F.col("delta")) / F.col("sigma"))
                .alias("contrib")
            )
        )
        delta = keep(
            levels[i]
            .join(contrib, ["p", "v"], "left")
            .select(
                "p", "v", "sigma",
                (F.coalesce(F.col("contrib"), F.lit(0.0)) * F.col("sigma"))
                .alias("delta"),
            )
        )
        acc = acc.unionByName(delta.select("p", "v", "delta"))

    return (
        acc.groupBy(F.col("v").alias("vkey"))
        .agg((F.round(F.sum("delta"), 6) + 0.0).alias("bc"))
        .orderBy(F.desc("bc"), "vkey")
        .limit(_BC_TOPK)
    )


def _betweenness_sql(n_piv: int, depth: int, topk: int) -> str:
    ctes = [
        _GRAPH_CTES,
        "dk AS (SELECT DISTINCT s, t FROM ek WHERE s <> t)",
        "und AS MATERIALIZED (SELECT DISTINCT s, t FROM "
        "(SELECT s, t FROM dk UNION ALL SELECT t AS s, s AS t FROM dk))",
        "av AS (SELECT DISTINCT v FROM "
        "(SELECT s AS v FROM und UNION ALL SELECT t AS v FROM und))",
        f"piv AS (SELECT v AS p FROM av WHERE v LIKE 'user:%' "
        f"ORDER BY v LIMIT {n_piv})",
        "f0 AS (SELECT p, p AS v, CAST(1 AS DOUBLE) AS sigma FROM piv)",
        "r0 AS (SELECT p, v, 0 AS d, sigma FROM f0)",
    ]
    for i in range(1, depth + 1):
        ctes.append(
            f"f{i} AS MATERIALIZED (SELECT f.p, u.t AS v, sum(f.sigma) AS sigma "
            f"FROM f{i - 1} f JOIN und u ON u.s = f.v "
            f"LEFT JOIN r{i - 1} r ON r.p = f.p AND r.v = u.t "
            f"WHERE r.v IS NULL GROUP BY f.p, u.t)"
        )
        ctes.append(
            f"r{i} AS MATERIALIZED (SELECT * FROM r{i - 1} "
            f"UNION ALL SELECT p, v, {i} AS d, sigma FROM f{i})"
        )
    ctes.append(
        f"d{depth} AS (SELECT p, v, sigma, CAST(0 AS DOUBLE) AS delta "
        f"FROM f{depth})"
    )
    for i in range(depth - 1, 0, -1):
        ctes.append(
            f"c{i} AS (SELECT w.p, u.s AS v, sum((1 + w.delta) / w.sigma) "
            f"AS contrib FROM d{i + 1} w JOIN und u ON u.t = w.v "
            f"GROUP BY w.p, u.s)"
        )
        ctes.append(
            f"d{i} AS MATERIALIZED (SELECT f.p, f.v, f.sigma, "
            f"coalesce(c.contrib, 0) * f.sigma AS delta "
            f"FROM f{i} f LEFT JOIN c{i} c ON c.p = f.p AND c.v = f.v)"
        )
    union = " UNION ALL ".join(
        f"SELECT p, v, delta FROM d{i}" for i in range(1, depth + 1)
    )
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
SELECT v AS vkey, round(sum(delta), 6) + 0.0 AS bc
FROM ({union}) GROUP BY v
ORDER BY bc DESC, vkey LIMIT {topk}
"""
    )


SQL_BETWEENNESS = _betweenness_sql(_BC_PIVOTS, _BC_DEPTH, _BC_TOPK)


# --------------------------------------------------------------------------
# bridge (weak-tie) edges: triangle support = 0
# --------------------------------------------------------------------------

_BRIDGE_TOPK = 100


def q_bridge_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weak-tie ranking: undirected simple edges by ascending triangle
    support (support 0 = a local bridge in Granovetter's sense — removing
    it strictly lengthens the path between its endpoints).  Output
    (u, v, support, deg_u, deg_v), bottom-_BRIDGE_TOPK by
    (support, u, v) — the crawl/community-hygiene primitive for spotting
    inter-cluster connectors.

    Support reuses the oriented 2-join triangle shape (each triangle
    enumerated once as u<v<w), scatters each triangle onto its three
    edges as +1 rows, and hash-aggregates — the triangle set itself never
    materializes, so at 100 TB the cost is the same two equi-joins every
    exact triangle method pays plus two combinable aggregates."""
    dk = _directed_simple(spark, sf_dir)
    und = (
        dk.select(
            F.least("s", "t").alias("u"), F.greatest("s", "t").alias("v")
        )
        .distinct()
    )
    e2 = und.select(F.col("u").alias("u2"), F.col("v").alias("v2"))
    e3 = und.select(F.col("u").alias("u3"), F.col("v").alias("v3"))
    tri = (
        und.join(e2, (F.col("u2") == F.col("u")) & (F.col("v2") > F.col("v")))
        .join(e3, (F.col("u3") == F.col("v")) & (F.col("v3") == F.col("v2")))
    )
    sup = (
        tri.select("u", "v")
        .unionByName(tri.select("u", F.col("v2").alias("v")))
        .unionByName(tri.select(F.col("v").alias("u"), F.col("v2").alias("v")))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("support"))
    )
    deg = (
        und.select(F.col("u").alias("x"))
        .unionByName(und.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    return (
        und.join(sup, ["u", "v"], "left")
        .join(deg.select(F.col("x").alias("u"), F.col("deg").alias("deg_u")), "u")
        .join(deg.select(F.col("x").alias("v"), F.col("deg").alias("deg_v")), "v")
        .select(
            "u", "v",
            F.coalesce("support", F.lit(0)).alias("support"),
            "deg_u", "deg_v",
        )
        .orderBy("support", "u", "v")
        .limit(_BRIDGE_TOPK)
    )


SQL_BRIDGE_EDGES = (
    "WITH "
    + _GRAPH_CTES
    + f""",
und AS (
  SELECT DISTINCT least(s, t) AS u, greatest(s, t) AS v FROM ek WHERE s <> t
), tri AS (
  SELECT e1.u, e1.v, e2.v2
  FROM und e1
  JOIN (SELECT u AS u2, v AS v2 FROM und) e2 ON e2.u2 = e1.u AND e2.v2 > e1.v
  JOIN (SELECT u AS u3, v AS v3 FROM und) e3 ON e3.u3 = e1.v AND e3.v3 = e2.v2
), sup AS (
  SELECT u, v, count(*) AS support FROM (
    SELECT u, v FROM tri
    UNION ALL SELECT u, v2 AS v FROM tri
    UNION ALL SELECT v AS u, v2 AS v FROM tri
  ) GROUP BY u, v
), deg AS (
  SELECT x, count(*) AS deg FROM (
    SELECT u AS x FROM und UNION ALL SELECT v AS x FROM und
  ) GROUP BY x
)
SELECT und.u, und.v, coalesce(s.support, 0) AS support,
       du.deg AS deg_u, dv.deg AS deg_v
FROM und
LEFT JOIN sup s ON s.u = und.u AND s.v = und.v
JOIN deg du ON du.x = und.u
JOIN deg dv ON dv.x = und.v
ORDER BY support, und.u, und.v LIMIT {_BRIDGE_TOPK}
"""
)


# --------------------------------------------------------------------------
# Minimum spanning forest via Borůvka rounds (the distributed-MST classic:
# every component picks its lightest outgoing edge, merged components
# contract, repeat — components at least halve per round, so the round
# count is <= ceil(log2 V) regardless of graph shape).
# --------------------------------------------------------------------------

_MSF_ROUNDS = 16  # >= ceil(log2 V) for any gate/test graph; early-exit


def _components_over_keys(pairs: DataFrame) -> DataFrame:
    """(a, b) string-key pair list -> (vkey, comp_key) through the hash-min
    Pregel components engine (pregel.py) — the string-key sibling of
    datapipe.cluster_pairs.  vids are assigned by sorted vkey, so the
    engine's min-vid label maps back to the lexicographically smallest key
    of each component."""
    from .derive import key_graph
    from .pregel import ComponentsProgram, GraphContext, run_program

    edges = pairs.select(
        F.col("a").alias("s"), F.col("b").alias("t"),
        F.lit("msf").alias("etype"), F.lit(1.0).alias("w"),
    )
    g = key_graph(edges, F.lit("k"))
    ctx = GraphContext.build(g, 4)
    try:
        res = run_program(ctx, ComponentsProgram(), max_iter=100)
        if not res.converged:
            raise RuntimeError("components closure did not converge")
        v = g.vertices.select("vkey", "vid")
        ck = v.select(F.col("vid").alias("comp"), F.col("vkey").alias("comp_key"))
        return res.state.join(v, "vid").join(ck, "comp").select("vkey", "comp_key")
    finally:
        ctx.unpersist()


def q_engine_msf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum spanning forest of the undirected events graph, Borůvka
    style: per round every component selects its lightest outgoing edge
    (deterministic (w, a, b) tie-break), the selected edges join the
    forest, and merged components contract by relabelling through the
    SAME hash-min Pregel components engine run on the (tiny) contracted
    pair graph.  Edge weights are the cross-engine int64 md5 of the
    undirected key, so they are distinct for all practical graphs and the
    MSF is unique — which is what lets the DuckDB oracle verify it via
    the cycle property (an edge is in the unique MSF iff its endpoints
    are NOT connected by strictly lighter edges) without replaying the
    round schedule.

    Scale posture: per round, one broadcast-able comp-label join pair +
    one partial-aggregable per-comp struct-min + one Pregel closure over
    the CONTRACTED graph (#nodes = #components, shrinking at least 2x per
    round); the full edge list is touched once per round with no fan-out;
    <= ceil(log2 V) rounds total, each early-exit checked with a bounded
    ``isEmpty``.  Output (a, b, w) — the forest's undirected edges."""
    from .datapipe import _md5_int

    e = _directed_simple(spark, sf_dir)
    und = (
        e.select(F.least("s", "t").alias("a"), F.greatest("s", "t").alias("b"))
        .distinct()
        .withColumn("w", _md5_int(F.concat("a", F.lit("|"), "b")))
        .localCheckpoint()
    )
    comp = (
        und.select(F.col("a").alias("v"))
        .unionByName(und.select(F.col("b").alias("v")))
        .distinct()
        .select("v", F.col("v").alias("c"))
    )
    msf: DataFrame | None = None
    for _ in range(_MSF_ROUNDS):
        ca = comp.select(F.col("v").alias("a"), F.col("c").alias("ca"))
        cb = comp.select(F.col("v").alias("b"), F.col("c").alias("cb"))
        cross = und.join(ca, "a").join(cb, "b").where(F.col("ca") != F.col("cb"))
        if cross.isEmpty():
            break
        cand = cross.select(F.col("ca").alias("comp"), "w", "a", "b", "ca", "cb")
        cand = cand.unionByName(
            cross.select(F.col("cb").alias("comp"), "w", "a", "b", "ca", "cb")
        )
        sel = (
            cand.groupBy("comp")
            .agg(F.min(F.struct("w", "a", "b", "ca", "cb")).alias("m"))
            .select("m.w", "m.a", "m.b", "m.ca", "m.cb")
            .distinct()
            .localCheckpoint()
        )
        picked = sel.select("a", "b", "w")
        msf = picked if msf is None else msf.unionByName(picked).distinct()
        msf = msf.localCheckpoint()
        lab = _components_over_keys(
            sel.select(F.col("ca").alias("a"), F.col("cb").alias("b"))
        )
        comp = (
            comp.join(lab.withColumnRenamed("vkey", "c"), "c", "left")
            .select("v", F.coalesce("comp_key", F.col("c")).alias("c"))
            .localCheckpoint()
        )
    else:
        raise RuntimeError(
            f"Borůvka did not finish in {_MSF_ROUNDS} rounds — impossible "
            "unless the graph has > 2^16 vertices; raise _MSF_ROUNDS"
        )
    if msf is None:
        return und.select("a", "b", "w").limit(0)
    return msf.select("a", "b", "w")


# --------------------------------------------------------------------------
# synchronous Louvain local-move rounds (Blondel et al. 2008 move phase,
# distributed PARITY-ALTERNATING form — the Grappolo-style coloring fix):
# on round r only vertices whose md5 parity equals r mod 2 may move, to
# the neighboring community maximizing the modularity gain
# w_ic − k_i·K_c/2m (community degree excluding the mover when staying),
# ties to the smaller community label.  Fully-synchronous moves over-merge
# on hub-dense graphs (every vertex simultaneously chases the same hub
# community before its K_c can grow to repel them); alternating halves
# lets K_c update between waves, which is the standard distributed
# mitigation.  All edge weights here are integer adjacency counts, so
# every sum is exact in double and the single division per gain is
# computed from identical operands on both engines — which is what makes
# the fixed-round unrolled-CTE oracle bit-exact.
# --------------------------------------------------------------------------

_LOUVAIN_ROUNDS = 4  # two waves per parity class


def q_louvain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-round synchronous Louvain over the undirected simple events
    graph.  Per round: one community-degree aggregate, one edge⋈label
    join + per-(vertex, community) count, one gain argmax window — three
    combinable shuffles, no collect; the candidate set of a vertex is its
    neighboring communities plus its own, so message volume is O(|E|).
    Deterministic: integer weights make gains bit-identical across
    engines, ties break to the smaller community key.  Output
    (vkey, comm_key) after ``_LOUVAIN_ROUNDS`` rounds."""
    ev = load_table(spark, sf_dir, "events")
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
    verts = (
        ek.select(F.col("s").alias("vkey"))
        .unionByName(ek.select(F.col("t").alias("vkey")))
        .distinct()
    )
    ns = ek.where(F.col("s") != F.col("t"))
    und = (
        ns.select(F.col("s").alias("a"), F.col("t").alias("b"))
        .unionByName(ns.select(F.col("t").alias("a"), F.col("s").alias("b")))
        .distinct()
        .localCheckpoint()
    )
    deg = und.groupBy(F.col("a").alias("vkey")).agg(
        F.count(F.lit(1)).alias("k")
    )
    m2 = und.agg(F.count(F.lit(1)).cast("double").alias("m2"))
    from .datapipe import _md5_int

    lab = verts.select("vkey", F.col("vkey").alias("c"))
    for r in range(_LOUVAIN_ROUNDS):
        kc = (
            lab.join(deg, "vkey", "left")
            .groupBy("c")
            .agg(F.sum(F.coalesce("k", F.lit(0))).alias("kc"))
        )
        wic = (
            und.join(
                lab.select(F.col("vkey").alias("b"), F.col("c").alias("cb")), "b"
            )
            .groupBy(F.col("a").alias("vkey"), F.col("cb").alias("c"))
            .agg(F.count(F.lit(1)).alias("w"))
        )
        cand = (
            lab.select("vkey", "c", F.lit(0).cast("long").alias("w"))
            .unionByName(wic)
            .groupBy("vkey", "c")
            .agg(F.sum("w").alias("w"))
        )
        own = lab.select("vkey", F.col("c").alias("own"))
        scored = (
            cand.join(own, "vkey")
            .join(kc, "c")
            .join(deg, "vkey", "left")
            .crossJoin(F.broadcast(m2))
            .select(
                "vkey",
                "c",
                (
                    F.col("w")
                    - F.coalesce("k", F.lit(0))
                    * F.when(
                        F.col("c") == F.col("own"),
                        F.col("kc") - F.coalesce("k", F.lit(0)),
                    ).otherwise(F.col("kc"))
                    / F.col("m2")
                ).alias("gain"),
            )
        )
        pw = Window.partitionBy("vkey").orderBy(F.desc("gain"), F.asc("c"))
        picked = (
            scored.withColumn("rn", F.row_number().over(pw))
            .where(F.col("rn") == 1)
            .select("vkey", F.col("c").alias("pick"))
        )
        may_move = F.pmod(_md5_int(F.col("vkey")), F.lit(2)) == (r % 2)
        lab = (
            lab.join(picked, "vkey")
            .select(
                "vkey",
                F.when(may_move, F.col("pick")).otherwise(F.col("c")).alias("c"),
            )
            .localCheckpoint()
        )
    return lab.select("vkey", F.col("c").alias("comm_key"))


def _louvain_ctes(rounds: int) -> list[str]:
    ctes = [
        _GRAPH_CTES,
        "und AS (SELECT DISTINCT a, b FROM ("
        "SELECT s AS a, t AS b FROM ek WHERE s <> t "
        "UNION ALL SELECT t AS a, s AS b FROM ek WHERE s <> t))",
        "kk AS (SELECT a AS vkey, count(*) AS k FROM und GROUP BY a)",
        "m2 AS (SELECT CAST(count(*) AS DOUBLE) AS m2 FROM und)",
        # MATERIALIZED is load-bearing on every lv{r}: each round's label
        # table is referenced 4x by the next round, and DuckDB inlines
        # plain CTEs -> 4^rounds re-expansion (measured: OOM past sf0.01)
        "lv0 AS MATERIALIZED (SELECT vkey, vkey AS c FROM v)",
    ]
    for r in range(1, rounds + 1):
        p = f"lv{r - 1}"
        ctes.append(
            f"kc{r} AS (SELECT l.c, CAST(sum(coalesce(kk.k, 0)) AS BIGINT) AS kc "
            f"FROM {p} l LEFT JOIN kk USING (vkey) GROUP BY l.c)"
        )
        ctes.append(
            f"wic{r} AS (SELECT u.a AS vkey, lb.c, count(*) AS w "
            f"FROM und u JOIN {p} lb ON lb.vkey = u.b GROUP BY u.a, lb.c)"
        )
        ctes.append(
            f"cand{r} AS (SELECT vkey, c, CAST(sum(w) AS BIGINT) AS w FROM ("
            f"SELECT vkey, c, 0 AS w FROM {p} "
            f"UNION ALL SELECT vkey, c, w FROM wic{r}) GROUP BY vkey, c)"
        )
        ctes.append(
            f"""sc{r} AS (
  SELECT cd.vkey, cd.c,
         cd.w - coalesce(kk.k, 0)
              * (CASE WHEN cd.c = own.c
                 THEN kc.kc - coalesce(kk.k, 0) ELSE kc.kc END)
              / m2.m2 AS gain
  FROM cand{r} cd
  JOIN {p} own ON own.vkey = cd.vkey
  JOIN kc{r} kc ON kc.c = cd.c
  LEFT JOIN kk ON kk.vkey = cd.vkey, m2
)"""
        )
        ctes.append(
            f"pk{r} AS (SELECT vkey, c AS pick FROM ("
            f"SELECT vkey, c, row_number() OVER "
            f"(PARTITION BY vkey ORDER BY gain DESC, c) AS rn FROM sc{r}"
            f") WHERE rn = 1)"
        )
        ctes.append(
            f"lv{r} AS MATERIALIZED (SELECT l.vkey, "
            f"CASE WHEN CAST(('0x' || substr(md5(l.vkey), 1, 15)) AS BIGINT) % 2 "
            f"= {(r - 1) % 2} THEN p.pick ELSE l.c END AS c "
            f"FROM {p} l JOIN pk{r} p ON p.vkey = l.vkey)"
        )
    return ctes


SQL_LOUVAIN = (
    "WITH "
    + ",\n".join(_louvain_ctes(_LOUVAIN_ROUNDS))
    + f"\nSELECT vkey, c AS comm_key FROM lv{_LOUVAIN_ROUNDS}"
)


def q_community_conductance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conductance audit of the detected Louvain communities: per community
    phi(c) = cut(c) / min(vol(c), 2m - vol(c)) — the standard quality score
    for a community (low = well-separated).  Reuses the louvain labels; the
    audit itself is one label-annotated edge pass + two combinable
    aggregates + a 1-row total broadcast, integers until the final
    division, so the whole composition (detect -> audit) hash-verifies
    cross-engine."""
    lab = q_louvain(spark, sf_dir).select(
        "vkey", F.col("comm_key").alias("c")
    )
    e = _directed_simple(spark, sf_dir)
    und = (
        e.select(F.col("s").alias("a"), F.col("t").alias("b"))
        .unionByName(e.select(F.col("t").alias("a"), F.col("s").alias("b")))
        .distinct()
        .localCheckpoint()
    )
    deg = und.groupBy(F.col("a").alias("vkey")).agg(
        F.count(F.lit(1)).alias("k")
    )
    vol = (
        lab.join(deg, "vkey", "left")
        .groupBy("c")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum(F.coalesce("k", F.lit(0))).alias("vol"),
        )
    )
    cut = (
        und.join(lab.select(F.col("vkey").alias("a"), F.col("c").alias("ca")), "a")
        .join(lab.select(F.col("vkey").alias("b"), F.col("c").alias("cb")), "b")
        .where(F.col("ca") != F.col("cb"))
        .groupBy(F.col("ca").alias("c"))
        .agg(F.count(F.lit(1)).alias("cut"))
    )
    m2i = und.agg(F.count(F.lit(1)).alias("m2i"))
    denom = F.least(F.col("vol"), F.col("m2i") - F.col("vol"))
    return (
        vol.join(cut, "c", "left")
        .crossJoin(F.broadcast(m2i))
        .select(
            F.col("c").alias("comm_key"),
            F.col("n_members").cast("long").alias("n_members"),
            F.col("vol").cast("long").alias("vol"),
            F.coalesce("cut", F.lit(0)).cast("long").alias("cut"),
            F.when(
                denom > 0,
                F.round(F.coalesce("cut", F.lit(0)) / denom, 6),
            ).alias("conductance"),
        )
    )


SQL_COMMUNITY_CONDUCTANCE = (
    "WITH "
    + ",\n".join(
        _louvain_ctes(_LOUVAIN_ROUNDS)
        + [
            f"ccv AS MATERIALIZED (SELECT vkey, c FROM lv{_LOUVAIN_ROUNDS})",
            "ccvol AS (SELECT l.c, count(*) AS n_members, "
            "CAST(sum(coalesce(kk.k, 0)) AS BIGINT) AS vol "
            "FROM ccv l LEFT JOIN kk USING (vkey) GROUP BY l.c)",
            "cccut AS (SELECT la.c, count(*) AS cut FROM und u "
            "JOIN ccv la ON la.vkey = u.a JOIN ccv lb ON lb.vkey = u.b "
            "WHERE la.c <> lb.c GROUP BY la.c)",
            "cctot AS (SELECT CAST(count(*) AS BIGINT) AS m2i FROM und)",
        ]
    )
    + """
SELECT v.c AS comm_key,
       CAST(v.n_members AS BIGINT) AS n_members, v.vol,
       CAST(coalesce(ct.cut, 0) AS BIGINT) AS cut,
       CASE WHEN least(v.vol, t.m2i - v.vol) > 0 THEN
         round(coalesce(ct.cut, 0) / CAST(least(v.vol, t.m2i - v.vol) AS DOUBLE), 6)
       END AS conductance
FROM ccvol v LEFT JOIN cccut ct ON ct.c = v.c, cctot t
"""
)


# --------------------------------------------------------------------------
# distributed greedy graph coloring (Jones–Plassmann / Luby family): per
# round, every uncolored vertex that is the (md5-priority, vkey) local
# maximum among its UNCOLORED neighbors takes the round index as its
# color — each round's colored set is an independent set (Luby MIS on the
# residual graph), so the coloring is proper by construction.  The
# scheduling primitive behind conflict-free parallel updates.
# --------------------------------------------------------------------------

_COLOR_ROUNDS = 16  # >= the 11 the gate graph needs; extra rounds no-op


def q_engine_coloring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy distributed coloring of the undirected simple events graph.
    Per round: one uncolored-frontier self-join on the edge list finds
    vertices dominated by a higher-priority uncolored neighbor; an
    anti-join yields the round's independent set, which takes the round
    index as its color.  Priorities are the cross-engine md5 of the key
    (vkey tiebreak), so the schedule — and therefore every color — is
    bit-identical across engines and runs.  Message volume tracks the
    RESIDUAL edge set, which shrinks every round.  Output (vkey, color);
    raises if ``_COLOR_ROUNDS`` rounds leave anything uncolored."""
    from .datapipe import _md5_int

    e = _directed_simple(spark, sf_dir)
    und = (
        e.select(F.col("s").alias("a"), F.col("t").alias("b"))
        .unionByName(e.select(F.col("t").alias("a"), F.col("s").alias("b")))
        .distinct()
        .localCheckpoint()
    )
    un = (
        und.select(F.col("a").alias("vkey"))
        .distinct()
        .withColumn("p", _md5_int(F.col("vkey")))
        .localCheckpoint()
    )
    colored: DataFrame | None = None
    for r in range(1, _COLOR_ROUNDS + 1):
        ua = un.select(F.col("vkey").alias("a"), F.col("p").alias("pa"))
        ub = un.select(F.col("vkey").alias("b"), F.col("p").alias("pb"))
        dominated = (
            und.join(ua, "a")
            .join(ub, "b")
            .where(
                (F.col("pb") > F.col("pa"))
                | ((F.col("pb") == F.col("pa")) & (F.col("b") > F.col("a")))
            )
            .select(F.col("a").alias("vkey"))
            .distinct()
        )
        # materialized per round (like the oracle's MATERIALIZED nc{r}):
        # referenced by the final union AND the residual anti-join
        newly = un.join(dominated, "vkey", "left_anti").select(
            "vkey", F.lit(r).cast("int").alias("color")
        ).localCheckpoint()
        colored = newly if colored is None else colored.unionByName(newly)
        un = un.join(newly.select("vkey"), "vkey", "left_anti").localCheckpoint()
        if un.isEmpty():
            break
    else:
        raise RuntimeError(
            f"coloring did not finish in {_COLOR_ROUNDS} rounds — raise "
            "_COLOR_ROUNDS for this graph"
        )
    assert colored is not None
    return colored


def _coloring_sql(rounds: int) -> str:
    ctes = [
        _GRAPH_CTES,
        "undc AS (SELECT DISTINCT a, b FROM ("
        "SELECT s AS a, t AS b FROM ek WHERE s <> t "
        "UNION ALL SELECT t AS a, s AS b FROM ek WHERE s <> t))",
        "un0 AS (SELECT DISTINCT a AS vkey, "
        "CAST(('0x' || substr(md5(a), 1, 15)) AS BIGINT) AS p FROM undc)",
    ]
    for r in range(1, rounds + 1):
        p = f"un{r - 1}"
        # MATERIALIZED is load-bearing: each level is referenced twice, so
        # DuckDB's default CTE inlining would expand the chain exponentially
        # (2^rounds scans — "too many open files" long before wrong answers)
        ctes.append(
            f"""nc{r} AS MATERIALIZED (
  SELECT u.vkey, {r} AS color FROM {p} u
  WHERE NOT EXISTS (
    SELECT 1 FROM undc e
    JOIN {p} w ON w.vkey = e.b
    WHERE e.a = u.vkey
      AND (w.p > u.p OR (w.p = u.p AND w.vkey > u.vkey))
  )
)"""
        )
        ctes.append(
            f"un{r} AS MATERIALIZED (SELECT u.* FROM {p} u "
            f"WHERE u.vkey NOT IN (SELECT vkey FROM nc{r}))"
        )
    union = "\nUNION ALL\n".join(
        f"SELECT vkey, CAST(color AS INT) AS color FROM nc{r}"
        for r in range(1, rounds + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + union


SQL_ENGINE_COLORING = _coloring_sql(_COLOR_ROUNDS)


# --------------------------------------------------------------------------
# maximal independent set (Luby-style, deterministic greedy-by-priority):
# the symmetry-breaking primitive behind distributed scheduling, graph
# sparsification, and parallel greedy algorithms.  Per round the active
# local priority maxima join the set, then the set AND its neighborhood
# deactivate — so unlike coloring the residual shrinks by N(mis) every
# round and the schedule finishes in O(log n) rounds w.h.p. for random
# (here: md5) priorities.  Deterministic priorities make every member —
# and the round it was sealed in — bit-identical across engines, runs and
# partitionings.
# --------------------------------------------------------------------------

_MIS_ROUNDS = 16  # gate graph finishes well under this; extra rounds no-op


def q_engine_mis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Luby MIS over the undirected simple events graph.
    Per round: one active-frontier self-join on the residual edge list
    finds vertices dominated by a higher-priority ACTIVE neighbor; the
    anti-join is this round's independent set; the set plus its neighbor
    set then leaves the frontier.  Output (vkey, mis_round); raises if
    ``_MIS_ROUNDS`` rounds leave active vertices.

    Scale posture: message volume tracks the RESIDUAL edge set, which
    loses every edge incident to mis ∪ N(mis) per round — geometrically
    shrinking for hash priorities; all joins are key-partitioned
    equi-joins, nothing leaves the JVM.
    """
    from .datapipe import _md5_int

    e = _directed_simple(spark, sf_dir)
    und = (
        e.select(F.col("s").alias("a"), F.col("t").alias("b"))
        .unionByName(e.select(F.col("t").alias("a"), F.col("s").alias("b")))
        .distinct()
        .localCheckpoint()
    )
    act = (
        und.select(F.col("a").alias("vkey"))
        .distinct()
        .withColumn("p", _md5_int(F.col("vkey")))
        .localCheckpoint()
    )
    mis: DataFrame | None = None
    for r in range(1, _MIS_ROUNDS + 1):
        ua = act.select(F.col("vkey").alias("a"), F.col("p").alias("pa"))
        ub = act.select(F.col("vkey").alias("b"), F.col("p").alias("pb"))
        dominated = (
            und.join(ua, "a")
            .join(ub, "b")
            .where(
                (F.col("pb") > F.col("pa"))
                | ((F.col("pb") == F.col("pa")) & (F.col("b") > F.col("a")))
            )
            .select(F.col("a").alias("vkey"))
            .distinct()
        )
        newly = act.join(dominated, "vkey", "left_anti").select(
            "vkey", F.lit(r).cast("int").alias("mis_round")
        )
        mis = newly if mis is None else mis.unionByName(newly)
        nbrs = (
            und.join(newly.select(F.col("vkey").alias("a")), "a")
            .select(F.col("b").alias("vkey"))
            .distinct()
        )
        act = (
            act.join(
                newly.select("vkey").unionByName(nbrs).distinct(),
                "vkey",
                "left_anti",
            )
            .localCheckpoint()
        )
        if act.isEmpty():
            break
    else:
        raise RuntimeError(
            f"MIS did not finish in {_MIS_ROUNDS} rounds — raise _MIS_ROUNDS "
            "for this graph"
        )
    assert mis is not None
    return mis


def _mis_sql(rounds: int) -> str:
    ctes = [
        _GRAPH_CTES,
        "undc AS (SELECT DISTINCT a, b FROM ("
        "SELECT s AS a, t AS b FROM ek WHERE s <> t "
        "UNION ALL SELECT t AS a, s AS b FROM ek WHERE s <> t))",
        "act0 AS (SELECT DISTINCT a AS vkey, "
        "CAST(('0x' || substr(md5(a), 1, 15)) AS BIGINT) AS p FROM undc)",
    ]
    for r in range(1, rounds + 1):
        p = f"act{r - 1}"
        # MATERIALIZED for the same reason as _coloring_sql: each level is
        # referenced more than once, and default CTE inlining would expand
        # the chain exponentially.
        ctes.append(
            f"""mis{r} AS MATERIALIZED (
  SELECT u.vkey, {r} AS mis_round FROM {p} u
  WHERE NOT EXISTS (
    SELECT 1 FROM undc e
    JOIN {p} w ON w.vkey = e.b
    WHERE e.a = u.vkey
      AND (w.p > u.p OR (w.p = u.p AND w.vkey > u.vkey))
  )
)"""
        )
        ctes.append(
            f"""act{r} AS MATERIALIZED (
  SELECT u.* FROM {p} u
  WHERE u.vkey NOT IN (SELECT vkey FROM mis{r})
    AND NOT EXISTS (
      SELECT 1 FROM undc e JOIN mis{r} m ON m.vkey = e.b
      WHERE e.a = u.vkey
    )
)"""
        )
    union = "\nUNION ALL\n".join(
        f"SELECT vkey, CAST(mis_round AS INT) AS mis_round FROM mis{r}"
        for r in range(1, rounds + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + union


SQL_ENGINE_MIS = _mis_sql(_MIS_ROUNDS)


# --------------------------------------------------------------------------
# seeded label spreading (semi-supervised node classification): the five
# event-type vertices are the labeled classes; votes propagate k hops as
# UNNORMALIZED integer counts (v_t = A·v_{t-1} with seeds clamped), and
# each vertex classifies as its argmax label.  Keeping the iteration in
# integers (counts, not degree-normalized fractions) is what makes the
# unrolled oracle bit-exact — normalization would stack division rounding
# across engines; argmax is invariant to the per-vertex scale anyway at
# fixed depth from single-class seeds... (it is not in general, but the
# CLASSIFIER here is defined as argmax of raw k-hop path counts, a
# standard seeded-voting rule in its own right).
# --------------------------------------------------------------------------

_SPREAD_ROUNDS = 3


def q_label_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded k-hop label voting over the undirected simple events graph:
    seeds = the non-``user:`` vertices (event types), each its own class;
    per round one edge⋈votes equi-join + one combinable (vertex, label)
    sum; seeds stay clamped to their own class.  Message volume is
    O(|E| · live labels) per round — the seeded-classification shape that
    scales where per-vertex softmax normalization would not.  Output
    (vkey, label, votes) for classified non-seed vertices (argmax, ties
    to the smaller label)."""
    e = _directed_simple(spark, sf_dir)
    und = (
        e.select(F.col("s").alias("a"), F.col("t").alias("b"))
        .unionByName(e.select(F.col("t").alias("a"), F.col("s").alias("b")))
        .distinct()
        .localCheckpoint()
    )
    seeds = (
        und.select(F.col("a").alias("vkey"))
        .distinct()
        .where(~F.col("vkey").startswith("user:"))
        .select("vkey", F.col("vkey").alias("lbl"), F.lit(1).cast("long").alias("n"))
    )
    votes = seeds
    for _ in range(_SPREAD_ROUNDS):
        prop = (
            und.join(
                votes.select(
                    F.col("vkey").alias("b"), "lbl", F.col("n").alias("nb")
                ),
                "b",
            )
            .groupBy(F.col("a").alias("vkey"), "lbl")
            .agg(F.sum("nb").alias("n"))
        )
        # clamp: seeds always vote (only) for themselves
        votes = (
            prop.join(
                seeds.select(F.col("vkey").alias("seed_v")).distinct(),
                prop.vkey == F.col("seed_v"),
                "left_anti",
            )
            .unionByName(seeds)
            .localCheckpoint()
        )
    w = Window.partitionBy("vkey").orderBy(F.desc("n"), F.asc("lbl"))
    return (
        votes.where(F.col("vkey").startswith("user:"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vkey", F.col("lbl").alias("label"), F.col("n").alias("votes"))
    )


def _label_spread_sql(rounds: int) -> str:
    ctes = [
        _GRAPH_CTES,
        "und AS (SELECT DISTINCT a, b FROM ("
        "SELECT s AS a, t AS b FROM ek WHERE s <> t "
        "UNION ALL SELECT t AS a, s AS b FROM ek WHERE s <> t))",
        "seeds AS (SELECT DISTINCT a AS vkey, a AS lbl, CAST(1 AS BIGINT) AS n "
        "FROM und WHERE a NOT LIKE 'user:%')",
        "vt0 AS (SELECT * FROM seeds)",
    ]
    for r in range(1, rounds + 1):
        p = f"vt{r - 1}"
        ctes.append(
            f"pr{r} AS (SELECT u.a AS vkey, v.lbl, CAST(sum(v.n) AS BIGINT) AS n "
            f"FROM und u JOIN {p} v ON v.vkey = u.b GROUP BY u.a, v.lbl)"
        )
        ctes.append(
            f"vt{r} AS (SELECT * FROM pr{r} WHERE vkey LIKE 'user:%' "
            f"UNION ALL SELECT * FROM seeds)"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT vkey, lbl AS label, n AS votes FROM (
  SELECT vkey, lbl, n,
         row_number() OVER (PARTITION BY vkey ORDER BY n DESC, lbl) AS rn
  FROM vt{rounds} WHERE vkey LIKE 'user:%'
) WHERE rn = 1
"""
    )


SQL_LABEL_SPREAD = _label_spread_sql(_SPREAD_ROUNDS)


# --------------------------------------------------------------------------
# partition-quality audit: edge-cut fraction and destination balance of
# the engine's residue-class CSR partitioning (vid % P) — the number a
# partitioning strategy is judged by at 100 TB (cut edges = shuffled
# messages; dst imbalance = straggler partitions).
# --------------------------------------------------------------------------

_CUT_P = 8  # same P the engine gate rows run with (engine_queries._P)


def q_partition_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge-cut and balance audit of the production partitioning: map the
    events graph to the engine's vid space (sorted-vkey dense ids, the
    same rule every engine_* gate row uses) and measure, per edge-type,
    (a) the fraction of edge multiplicity whose src and dst land in
    different ``vid % P`` residue classes — exactly the messages that
    cross executors in a superstep — and (b) the heaviest destination
    partition's share — the straggler bound for the combine stage.  One
    broadcast-able vertex-map join pair + two combinable aggregates.
    Output (etype, n_msgs, cut_msgs, cut_frac, max_dst_share)."""
    from .flagship import events_graph

    g = events_graph(load_table(spark, sf_dir, "events"))
    e = g.edges.select(
        "etype",
        "w",
        F.pmod(F.col("src"), F.lit(_CUT_P)).alias("ps"),
        F.pmod(F.col("dst"), F.lit(_CUT_P)).alias("pt"),
    )
    per_dst = e.groupBy("etype", "pt").agg(F.sum("w").alias("wd"))
    dst_share = per_dst.groupBy("etype").agg(
        (F.max("wd") / F.sum("wd")).alias("max_dst_share")
    )
    cut = e.groupBy("etype").agg(
        F.sum("w").cast("long").alias("n_msgs"),
        F.sum(F.when(F.col("ps") != F.col("pt"), F.col("w")).otherwise(F.lit(0.0)))
        .cast("long")
        .alias("cut_msgs"),
    )
    return (
        cut.join(dst_share, "etype")
        .select(
            "etype",
            "n_msgs",
            "cut_msgs",
            F.round(F.col("cut_msgs") / F.col("n_msgs"), 6).alias("cut_frac"),
            F.round("max_dst_share", 6).alias("max_dst_share"),
        )
    )


SQL_PARTITION_CUT = (
    "WITH "
    + _GRAPH_CTES
    + f""",
et AS (
  SELECT s, t, etype, CAST(count(*) AS DOUBLE) AS w FROM (
    SELECT s, t, 'turn' AS etype FROM turn WHERE t IS NOT NULL
    UNION ALL
    SELECT 'user:' || CAST(user_id AS VARCHAR) AS s, event_type AS t,
           'tool' AS etype
    FROM base
  ) GROUP BY s, t, etype
), pe AS (
  SELECT et.etype, et.w,
         vs.vid % {_CUT_P} AS ps, vt.vid % {_CUT_P} AS pt
  FROM et
  JOIN v vs ON vs.vkey = et.s
  JOIN v vt ON vt.vkey = et.t
), per_dst AS (
  SELECT etype, pt, sum(w) AS wd FROM pe GROUP BY etype, pt
), share AS (
  SELECT etype, max(wd) / sum(wd) AS max_dst_share FROM per_dst GROUP BY etype
), cut AS (
  SELECT etype, CAST(sum(w) AS BIGINT) AS n_msgs,
         CAST(sum(CASE WHEN ps <> pt THEN w ELSE 0 END) AS BIGINT) AS cut_msgs
  FROM pe GROUP BY etype
)
SELECT cut.etype, n_msgs, cut_msgs,
       round(CAST(cut_msgs AS DOUBLE) / n_msgs, 6) AS cut_frac,
       round(max_dst_share, 6) AS max_dst_share
FROM cut JOIN share ON share.etype = cut.etype
"""
)


# --------------------------------------------------------------------------
# GNN-style neighborhood feature propagation (GraphSAGE mean-aggregate
# family): k rounds of x' = 0.5*x + 0.5*mean(neighbor x) over structural
# seed features — the feature-engineering pass a graph-ML training
# pipeline runs before export.
# --------------------------------------------------------------------------

_FPROP_ROUNDS = 2


def q_feature_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two rounds of mean-neighbor feature smoothing over the undirected
    events graph, seeded with each vertex's (out_degree, in_degree) —
    the distributed shape of a GraphSAGE mean-aggregator layer stack:
    per round ONE equi-join of the feature table onto the edge list and
    ONE combinable mean aggregate, so at 100 TB each round is a single
    shuffle on vertex key with message volume = |E| * feature width (and
    the feature table co-partitions with the edges across rounds).
    Output (vkey, f_out, f_in) rounded to 6 dp."""
    e = _directed_simple(spark, sf_dir)
    und = (
        e.select("s", "t")
        .unionByName(e.select(F.col("t").alias("s"), F.col("s").alias("t")))
        .distinct()
    )
    out_d = e.groupBy(F.col("s").alias("vkey")).agg(
        F.count(F.lit(1)).alias("f_out")
    )
    in_d = e.groupBy(F.col("t").alias("vkey")).agg(
        F.count(F.lit(1)).alias("f_in")
    )
    verts = (
        e.select(F.col("s").alias("vkey"))
        .unionByName(e.select(F.col("t").alias("vkey")))
        .distinct()
    )
    x = (
        verts.join(out_d, "vkey", "left")
        .join(in_d, "vkey", "left")
        .select(
            "vkey",
            F.coalesce(F.col("f_out").cast("double"), F.lit(0.0)).alias("f_out"),
            F.coalesce(F.col("f_in").cast("double"), F.lit(0.0)).alias("f_in"),
        )
    )
    for _ in range(_FPROP_ROUNDS):
        nbr = (
            und.join(x.withColumnRenamed("vkey", "t"), "t")
            .groupBy(F.col("s").alias("vkey"))
            .agg(
                F.avg("f_out").alias("m_out"),
                F.avg("f_in").alias("m_in"),
            )
        )
        x = (
            x.join(nbr, "vkey", "left")
            .select(
                "vkey",
                (
                    0.5 * F.col("f_out")
                    + 0.5 * F.coalesce("m_out", F.col("f_out"))
                ).alias("f_out"),
                (
                    0.5 * F.col("f_in") + 0.5 * F.coalesce("m_in", F.col("f_in"))
                ).alias("f_in"),
            )
        )
    return x.select(
        "vkey", F.round("f_out", 6).alias("f_out"), F.round("f_in", 6).alias("f_in")
    )


def _feature_prop_sql(rounds: int) -> str:
    ctes = [
        """und AS (
  SELECT DISTINCT s, t FROM (
    SELECT s, t FROM dk UNION ALL SELECT t AS s, s AS t FROM dk
  )
)""",
        """x0 AS (
  SELECT v.vkey,
         CAST(coalesce(o.f_out, 0) AS DOUBLE) AS f_out,
         CAST(coalesce(i.f_in, 0) AS DOUBLE) AS f_in
  FROM (SELECT DISTINCT vkey
        FROM (SELECT s AS vkey FROM dk UNION ALL SELECT t AS vkey FROM dk)) v
  LEFT JOIN (SELECT s AS vkey, count(*) AS f_out FROM dk GROUP BY s) o
    ON o.vkey = v.vkey
  LEFT JOIN (SELECT t AS vkey, count(*) AS f_in FROM dk GROUP BY t) i
    ON i.vkey = v.vkey
)""",
    ]
    for r in range(rounds):
        ctes.append(
            f"""x{r + 1} AS (
  SELECT x.vkey,
         0.5 * x.f_out + 0.5 * coalesce(n.m_out, x.f_out) AS f_out,
         0.5 * x.f_in + 0.5 * coalesce(n.m_in, x.f_in) AS f_in
  FROM x{r} x
  LEFT JOIN (
    SELECT und.s AS vkey, avg(x.f_out) AS m_out, avg(x.f_in) AS m_in
    FROM und JOIN x{r} x ON x.vkey = und.t
    GROUP BY und.s
  ) n ON n.vkey = x.vkey
)"""
        )
    return (
        "WITH "
        + _GRAPH_CTES
        + """,
dk AS (SELECT DISTINCT s, t FROM ek WHERE s <> t),
"""
        + ",\n".join(ctes)
        + f"""
SELECT vkey, round(f_out, 6) AS f_out, round(f_in, 6) AS f_in
FROM x{rounds}
"""
    )


SQL_FEATURE_PROP = _feature_prop_sql(_FPROP_ROUNDS)


# Cycle-property oracle: with distinct weights, edge (a,b,w) is in the
# unique MSF iff b is NOT reachable from a over edges of weight < w.
SQL_ENGINE_MSF = (
    "WITH "
    + _GRAPH_CTES
    + """,
msf_und AS (
  SELECT least(s, t) AS a, greatest(s, t) AS b
  FROM ek WHERE s <> t
  GROUP BY 1, 2
), wund AS (
  SELECT a, b,
         CAST(('0x' || substr(md5(a || '|' || b), 1, 15)) AS BIGINT) AS w,
         row_number() OVER (ORDER BY a, b) AS eid
  FROM msf_und
), dir AS (
  SELECT eid, a AS s, b AS t, w FROM wund
  UNION ALL
  SELECT eid, b AS s, a AS t, w FROM wund
), lighter_reach AS (
  WITH RECURSIVE rr(eid, v, wmax) AS (
    SELECT eid, a, w FROM wund
    UNION
    SELECT rr.eid, d.t, rr.wmax
    FROM rr JOIN dir d ON d.s = rr.v AND d.w < rr.wmax
  )
  SELECT * FROM rr
)
SELECT e.a, e.b, e.w
FROM wund e
WHERE NOT EXISTS (
  SELECT 1 FROM lighter_reach r WHERE r.eid = e.eid AND r.v = e.b
)
"""
)


# --------------------------------------------------------------------------
# Weisfeiler-Leman color refinement (graph-isomorphism vertex signatures)
# --------------------------------------------------------------------------
# WL refinement is the standard structural-role / graph-fingerprint pass
# (and the theoretical ceiling of message-passing GNN expressiveness): start
# from degree colors and repeatedly hash each vertex's (own color, neighbor
# color multiset).  The neighbor multiset is combined ORDER-INDEPENDENTLY as
# sum(md5(color) % M) — a commutative, map-side-combinable aggregate — so a
# round is one narrow equi-join + one hash groupBy, never a collect_list
# (hub vertices would otherwise build unbounded arrays).  Colors are
# md5->int64 (datapipe._md5_int), bit-identical in DuckDB, so the oracle is
# the same chain unrolled as MATERIALIZED CTEs.

_WL_ROUNDS = 3
_WL_MOD = 2147483647  # sum of V hashes < V * 2^31 << 2^63: no overflow


def q_wl_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex WL color after _WL_ROUNDS refinement rounds over the
    undirected simple events graph; output (vkey, wl_color).

    Scale shape: per round ONE (edge ⨝ color) narrow join and ONE
    combinable sum groupBy — identical cost profile to a GNN feature-prop
    layer (feature_prop above); state is one int64 per vertex.  Two
    vertices get equal colors iff WL cannot distinguish their r-hop
    neighborhoods (modulo md5 collisions, ~2^-60 per pair)."""
    from .datapipe import _md5_int

    dk = _directed_simple(spark, sf_dir)
    und = dk.select(
        F.least("s", "t").alias("u"), F.greatest("s", "t").alias("v")
    ).distinct()
    adj = und.unionByName(
        und.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    c = adj.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("c")).select(
        F.col("u").alias("x"), "c"
    )
    for _ in range(_WL_ROUNDS):
        h = c.select(
            F.col("x").alias("nb"),
            (_md5_int(F.col("c").cast("string")) % _WL_MOD).alias("hc"),
        )
        msg = (
            adj.join(h, adj.v == h.nb)
            .groupBy("u")
            .agg(F.sum("hc").alias("s"))
        )
        c = (
            c.join(msg, c.x == msg.u, "left")
            .select(
                "x",
                _md5_int(
                    F.concat(
                        F.col("c").cast("string"),
                        F.lit(":"),
                        F.coalesce(F.col("s"), F.lit(0)).cast("string"),
                    )
                ).alias("c"),
            )
        )
    return c.select(F.col("x").alias("vkey"), F.col("c").alias("wl_color"))


def _wl_refine_sql(rounds: int) -> str:
    from .datapipe import _sql_md5_int

    ctes = [
        _GRAPH_CTES,
        "wl_und AS (SELECT DISTINCT least(s, t) AS u, greatest(s, t) AS v "
        "FROM ek WHERE s <> t)",
        "wl_adj AS MATERIALIZED (SELECT u, v FROM wl_und "
        "UNION ALL SELECT v AS u, u AS v FROM wl_und)",
        "wlc0 AS MATERIALIZED (SELECT u AS x, CAST(count(*) AS BIGINT) AS c "
        "FROM wl_adj GROUP BY u)",
    ]
    for t in range(rounds):
        ctes.append(
            f"wlh{t} AS MATERIALIZED (SELECT x, "
            f"{_sql_md5_int('CAST(c AS VARCHAR)')} % {_WL_MOD} AS hc "
            f"FROM wlc{t})"
        )
        ctes.append(
            f"wlm{t} AS (SELECT a.u AS x, sum(h.hc) AS s "
            f"FROM wl_adj a JOIN wlh{t} h ON h.x = a.v GROUP BY a.u)"
        )
        expr = _sql_md5_int(
            "CAST(c.c AS VARCHAR) || ':' || CAST(coalesce(m.s, 0) AS VARCHAR)"
        )
        ctes.append(
            f"wlc{t + 1} AS MATERIALIZED (SELECT c.x, {expr} AS c "
            f"FROM wlc{t} c LEFT JOIN wlm{t} m USING (x))"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT x AS vkey, c AS wl_color FROM wlc{rounds}"
    )


SQL_WL_REFINE = _wl_refine_sql(_WL_ROUNDS)


# --------------------------------------------------------------------------
# 4-cycle (rectangle) census via the wedge co-neighbor join
# --------------------------------------------------------------------------
# Every 4-cycle u-x-w-y-u is generated twice, once by each opposite pair
# ({u,w} and {x,y}): a pair with cw common neighbors contributes
# C(cw, 2) cycles, so |C4| = sum(cw*(cw-1)) / 4 exactly (integer: each term
# is even, the total is divisible by 4).  The wedge join is O(sum deg^2) —
# the minimum any exact co-neighbor method pays; at web scale the standard
# mitigation is to route wedges through the LOWER-degree endpoint and cap
# pathological hubs (linkpred.jaccard_pairs' max_deg knob), which bounds the
# blow-up without changing exact counts below the cap.

def q_rectangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global 4-cycle census over the undirected simple events graph; one
    row (copairs, max_codeg, rectangles): #vertex pairs with >=2 common
    neighbors, the max co-degree, and the exact number of 4-cycles."""
    dk = _directed_simple(spark, sf_dir)
    und = dk.select(
        F.least("s", "t").alias("u"), F.greatest("s", "t").alias("v")
    ).distinct()
    adj = und.unionByName(
        und.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    e1 = adj.select(F.col("u").alias("ctr"), F.col("v").alias("a"))
    e2 = adj.select(F.col("u").alias("ctr"), F.col("v").alias("b"))
    wed = (
        e1.join(e2, "ctr")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("cw"))
    )
    return wed.agg(
        F.sum((F.col("cw") >= 2).cast("long")).alias("copairs"),
        F.max("cw").alias("max_codeg"),
        F.expr("sum(cw * (cw - 1)) div 4").alias("rectangles"),
    )


# --------------------------------------------------------------------------
# exact 4-clique (K4) census via degree-ordered DAG orientation
# --------------------------------------------------------------------------
# Orient every undirected edge from the endpoint with the smaller
# (degree, vkey) rank to the larger (the degeneracy-style acyclic
# orientation used by count_triangles): each K4 {a,b,c,d} then has exactly
# one topological labeling a->b->c->d, so the 4-way join over ORIENTED
# edges counts it exactly once, and the join fanout per vertex is bounded
# by its oriented out-degree — O(sqrt(E)) on any graph, far below raw hub
# degree.  This is the Chiba-Nishizeki shape that survives 100 TB; a naive
# undirected 4-way join would count each clique 24x and explode on hubs.


def q_cliques4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact K4 census over the undirected simple events graph; one row
    (k4_count, oriented_edges, max_outdeg).  The orientation rank is
    row_number over (deg, vkey) — computed by ``derive.dense_ids``, the
    range-partitioned sort the engine uses for dense vid assignment, not
    a single-task window or a collect of every key."""
    from .derive import dense_ids

    dk = _directed_simple(spark, sf_dir)
    und = dk.select(
        F.least("s", "t").alias("u"), F.greatest("s", "t").alias("v")
    ).distinct().localCheckpoint()  # 3 consumers: both adj arms + orientation
    adj = und.unionByName(
        und.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = adj.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    rk = dense_ids(deg, "deg", "u").select(
        F.col("u").alias("vk"), (F.col("vid") + 1).alias("rk")
    )
    # o feeds SEVEN consumers (six quad projections + the degree stats);
    # materialized so the orientation derivation runs once (audit: 118
    # Exchanges / 140 scans lazy — guide §2.4)
    o = (
        und.join(rk.select(F.col("vk").alias("u"), F.col("rk").alias("ru")), "u")
        .join(rk.select(F.col("vk").alias("v"), F.col("rk").alias("rv")), "v")
        .select(
            F.when(F.col("ru") < F.col("rv"), F.col("ru")).otherwise(F.col("rv")).alias("s"),
            F.when(F.col("ru") < F.col("rv"), F.col("rv")).otherwise(F.col("ru")).alias("t"),
        )
        .localCheckpoint()
    )
    ab = o.select(F.col("s").alias("a"), F.col("t").alias("b"))
    ac = o.select(F.col("s").alias("a"), F.col("t").alias("c"))
    ad = o.select(F.col("s").alias("a"), F.col("t").alias("d"))
    bc = o.select(F.col("s").alias("b"), F.col("t").alias("c"))
    bd = o.select(F.col("s").alias("b"), F.col("t").alias("d"))
    cd = o.select(F.col("s").alias("c"), F.col("t").alias("d"))
    quads = (
        ab.join(ac, "a").where(F.col("c") > F.col("b"))
        .join(bc, ["b", "c"])
        .join(ad, "a").where(F.col("d") > F.col("c"))
        .join(bd, ["b", "d"])
        .join(cd, ["c", "d"])
    )
    k4 = quads.agg(F.count(F.lit(1)).alias("k4_count"))
    stats = o.groupBy("s").agg(F.count(F.lit(1)).alias("od")).agg(
        F.sum("od").alias("oriented_edges"), F.max("od").alias("max_outdeg")
    )
    return k4.crossJoin(stats).select(
        "k4_count", "oriented_edges", "max_outdeg"
    )


SQL_CLIQUES4 = (
    "WITH "
    + _GRAPH_CTES
    + """,
k4_und AS MATERIALIZED (
  SELECT DISTINCT least(s, t) AS u, greatest(s, t) AS v FROM ek WHERE s <> t
), k4_adj AS (
  SELECT u, v FROM k4_und UNION ALL SELECT v AS u, u AS v FROM k4_und
), k4_deg AS (
  SELECT u, count(*) AS deg FROM k4_adj GROUP BY u
), k4_rk AS MATERIALIZED (
  SELECT u AS vk, CAST(row_number() OVER (ORDER BY deg, u) AS BIGINT) AS rk
  FROM k4_deg
), o AS MATERIALIZED (
  SELECT least(ru.rk, rv.rk) AS s, greatest(ru.rk, rv.rk) AS t
  FROM k4_und e JOIN k4_rk ru ON ru.vk = e.u JOIN k4_rk rv ON rv.vk = e.v
), quads AS (
  SELECT count(*) AS k4_count
  FROM o ab
  JOIN o ac ON ac.s = ab.s AND ac.t > ab.t
  JOIN o bc ON bc.s = ab.t AND bc.t = ac.t
  JOIN o ad ON ad.s = ab.s AND ad.t > ac.t
  JOIN o bd ON bd.s = ab.t AND bd.t = ad.t
  JOIN o cd ON cd.s = ac.t AND cd.t = ad.t
), ostats AS (
  SELECT CAST(sum(od) AS BIGINT) AS oriented_edges,
         CAST(max(od) AS BIGINT) AS max_outdeg
  FROM (SELECT s, count(*) AS od FROM o GROUP BY s)
)
SELECT CAST(k4_count AS BIGINT) AS k4_count, oriented_edges, max_outdeg
FROM quads, ostats
"""
)


SQL_RECTANGLES = (
    "WITH "
    + _GRAPH_CTES
    + """,
r_und AS (
  SELECT DISTINCT least(s, t) AS u, greatest(s, t) AS v FROM ek WHERE s <> t
), r_adj AS MATERIALIZED (
  SELECT u, v FROM r_und UNION ALL SELECT v AS u, u AS v FROM r_und
), wed AS (
  SELECT e1.v AS a, e2.v AS b, count(*) AS cw
  FROM r_adj e1 JOIN r_adj e2 ON e2.u = e1.u AND e1.v < e2.v
  GROUP BY 1, 2
)
SELECT CAST(sum(CASE WHEN cw >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS copairs,
       max(cw) AS max_codeg,
       CAST(sum(cw * (cw - 1)) // 4 AS BIGINT) AS rectangles
FROM wed
"""
)


# --------------------------------------------------------------------------
# densest subgraph via greedy (1+eps) peeling (Bahmani/Kumar/Vassilvitskii
# 2012 — the canonical MapReduce densest-subgraph algorithm).  Per round,
# every vertex whose degree is <= 2(1+eps) * density(S) leaves S; the round
# with the best density is a 2(1+eps)-approximation of the densest subgraph.
# With eps = 1 the rule is deg * |S| <= 4 * |E(S)| — ALL-INTEGER arithmetic,
# so the peel schedule (and thus every trace row) is bit-identical between
# Spark and DuckDB; survivors shrink by > 2x per round, so _DSG_ROUNDS = 16
# empties any graph under 2^16 vertices (raises if not).  Per round: two
# vertex-membership equi-joins + one combinable degree count + a 1-row
# stats broadcast — no collect, message volume tracks the SHRINKING
# subgraph, the right 100 TB shape (rounds are O(log V) total).
# --------------------------------------------------------------------------

_DSG_ROUNDS = 16
_DSG_THRESH = 4  # 2*(1+eps) with eps=1: remove iff deg*n_s <= 4*m_s


def q_densest_subgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy peel trace over the undirected simple events graph: one row
    per round (peel_round, n_s, m_s) until S empties.  max(m_s/n_s) over
    the trace is the 4-approximate densest-subgraph density; the full trace
    (not just the argmax) is returned so the gate checks the entire
    schedule."""
    e = _directed_simple(spark, sf_dir)
    pairs = (
        e.select(F.least("s", "t").alias("u"), F.greatest("s", "t").alias("w"))
        .distinct()
        .localCheckpoint()
    )
    verts = (
        pairs.select(F.col("u").alias("vkey"))
        .unionByName(pairs.select(F.col("w").alias("vkey")))
        .distinct()
        .localCheckpoint()
    )
    trace: DataFrame | None = None
    for r in range(_DSG_ROUNDS):
        # consumed 3x per round (m_s count + both degree projections);
        # materialized like the oracle's MATERIALIZED dse{r} CTE (guide §2.4)
        er = pairs.join(verts.select(F.col("vkey").alias("u")), "u").join(
            verts.select(F.col("vkey").alias("w")), "w"
        ).localCheckpoint()
        stats = verts.agg(F.count(F.lit(1)).alias("n_s")).crossJoin(
            er.agg(F.count(F.lit(1)).alias("m_s"))
        )
        row = stats.select(
            F.lit(r).cast("int").alias("peel_round"), "n_s", "m_s"
        )
        trace = row if trace is None else trace.unionByName(row)
        deg = (
            er.select(F.col("u").alias("vkey"))
            .unionByName(er.select(F.col("w").alias("vkey")))
            .groupBy("vkey")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        verts = (
            verts.join(deg, "vkey", "left")
            .crossJoin(F.broadcast(stats))
            .where(
                F.coalesce("deg", F.lit(0)) * F.col("n_s")
                > F.lit(_DSG_THRESH) * F.col("m_s")
            )
            .select("vkey")
            .localCheckpoint()
        )
    if not verts.isEmpty():
        raise RuntimeError(
            f"peel did not empty in {_DSG_ROUNDS} rounds — raise _DSG_ROUNDS"
        )
    assert trace is not None
    return trace


def _densest_sql(rounds: int) -> str:
    ctes = [
        _GRAPH_CTES,
        "dsp AS MATERIALIZED (SELECT DISTINCT least(s, t) AS u, "
        "greatest(s, t) AS w FROM ek WHERE s <> t)",
        "dsv0 AS MATERIALIZED (SELECT DISTINCT vkey FROM "
        "(SELECT u AS vkey FROM dsp UNION ALL SELECT w AS vkey FROM dsp))",
    ]
    for r in range(rounds):
        # MATERIALIZED per level: each set is referenced by two joins and
        # the stats row — default inlining would expand exponentially (same
        # reasoning as the coloring oracle).
        ctes.append(
            f"dse{r} AS MATERIALIZED (SELECT p.u, p.w FROM dsp p "
            f"JOIN dsv{r} a ON a.vkey = p.u JOIN dsv{r} b ON b.vkey = p.w)"
        )
        ctes.append(
            f"dst{r} AS MATERIALIZED (SELECT "
            f"(SELECT count(*) FROM dsv{r}) AS n_s, "
            f"(SELECT count(*) FROM dse{r}) AS m_s)"
        )
        ctes.append(
            f"dsd{r} AS (SELECT vkey, count(*) AS deg FROM "
            f"(SELECT u AS vkey FROM dse{r} UNION ALL "
            f"SELECT w AS vkey FROM dse{r}) GROUP BY vkey)"
        )
        ctes.append(
            f"dsv{r + 1} AS MATERIALIZED (SELECT v.vkey FROM dsv{r} v "
            f"LEFT JOIN dsd{r} d USING (vkey), dst{r} s "
            f"WHERE coalesce(d.deg, 0) * s.n_s > {_DSG_THRESH} * s.m_s)"
        )
    union = "\nUNION ALL\n".join(
        f"SELECT {r} AS peel_round, CAST(n_s AS BIGINT) AS n_s, "
        f"CAST(m_s AS BIGINT) AS m_s FROM dst{r}"
        for r in range(rounds)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + union


SQL_DENSEST_SUBGRAPH = _densest_sql(_DSG_ROUNDS)


_RC_KS = (1, 2, 4, 8, 16)  # rich-club degree thresholds


def q_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient phi(k) = 2·E_k / (N_k·(N_k−1)) over the
    undirected simple events graph (Colizza et al. 2006): do high-degree
    vertices preferentially link to each other?  One degree aggregate + one
    degree-annotated edge pass, fanned across the fixed threshold list by a
    5-row broadcast — two combinable shuffles total regardless of |E|."""
    e = _directed_simple(spark, sf_dir)
    pairs = e.select(
        F.least("s", "t").alias("u"), F.greatest("s", "t").alias("w")
    ).distinct()
    deg = (
        pairs.select(F.col("u").alias("vkey"))
        .unionByName(pairs.select(F.col("w").alias("vkey")))
        .groupBy("vkey")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    ks = spark.createDataFrame([(k,) for k in _RC_KS], "k int")
    n_k = (
        deg.crossJoin(F.broadcast(ks))
        .where(F.col("deg") > F.col("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_k"))
    )
    e_k = (
        pairs.join(deg.select(F.col("vkey").alias("u"), F.col("deg").alias("du")), "u")
        .join(deg.select(F.col("vkey").alias("w"), F.col("deg").alias("dw")), "w")
        .crossJoin(F.broadcast(ks))
        .where((F.col("du") > F.col("k")) & (F.col("dw") > F.col("k")))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("e_k"))
    )
    return (
        ks.join(n_k, "k", "left")
        .join(e_k, "k", "left")
        .select(
            "k",
            F.coalesce("n_k", F.lit(0)).cast("long").alias("n_k"),
            F.coalesce("e_k", F.lit(0)).cast("long").alias("e_k"),
            F.when(
                F.coalesce("n_k", F.lit(0)) >= 2,
                F.round(
                    2.0 * F.coalesce("e_k", F.lit(0))
                    / (F.col("n_k") * (F.col("n_k") - 1)),
                    6,
                ),
            ).alias("phi"),
        )
    )


SQL_RICH_CLUB = "WITH " + _GRAPH_CTES + f""",
rcp AS (SELECT DISTINCT least(s, t) AS u, greatest(s, t) AS w
        FROM ek WHERE s <> t),
rcd AS (SELECT vkey, count(*) AS deg FROM
        (SELECT u AS vkey FROM rcp UNION ALL SELECT w AS vkey FROM rcp)
        GROUP BY vkey),
rck AS (SELECT unnest(ARRAY{list(_RC_KS)}) AS k),
rcn AS (SELECT k, count(*) AS n_k FROM rcd, rck WHERE deg > k GROUP BY k),
rce AS (
  SELECT k, count(*) AS e_k
  FROM rcp
  JOIN rcd du ON du.vkey = rcp.u
  JOIN rcd dw ON dw.vkey = rcp.w, rck
  WHERE du.deg > k AND dw.deg > k
  GROUP BY k
)
SELECT rck.k,
       CAST(coalesce(rcn.n_k, 0) AS BIGINT) AS n_k,
       CAST(coalesce(rce.e_k, 0) AS BIGINT) AS e_k,
       CASE WHEN coalesce(rcn.n_k, 0) >= 2 THEN
         round(2.0 * coalesce(rce.e_k, 0)
               / (rcn.n_k * (rcn.n_k - 1)), 6) END AS phi
FROM rck LEFT JOIN rcn USING (k) LEFT JOIN rce USING (k)
"""


# --------------------------------------------------------------------------
# time-decayed PageRank: recency-weighted authority.  Edge OCCURRENCES keep
# their event time; each contributes 0.5^(age_days vs the corpus max DATE).
# Day-granular integer ages + powers of 1/2 make every occurrence weight an
# exact dyadic rational (magnitude 2^-age, age bounded), so weight SUMS are
# exact in binary floating point regardless of aggregation order — the
# decayed graph is bit-identical between Spark partial aggregation and
# DuckDB, and the 5-superstep PageRank rides the SAME unrolled-CTE oracle
# machinery as the flagship (pagerank_unroll_ctes is parameterized by the
# graph CTE block for exactly this reuse).
# --------------------------------------------------------------------------

_DECAY_STEPS = 5


def _decayed_graph(spark: SparkSession, sf_dir: str):
    from .derive import key_graph

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    turn = ev.select(
        F.col("event_type").alias("s"),
        F.lead("event_type").over(w).alias("t"),
        F.lead("ts").over(w).alias("ets"),
    ).where(F.col("t").isNotNull())
    tool = ev.select(
        F.concat(F.lit("user:"), F.col("user_id").cast("string")).alias("s"),
        F.col("event_type").alias("t"),
        F.col("ts").alias("ets"),
    )
    occ = turn.unionByName(tool)
    mx = occ.agg(F.max(F.to_date("ets")).alias("mxd"))
    e = (
        occ.crossJoin(F.broadcast(mx))
        .select(
            "s",
            "t",
            F.pow(F.lit(0.5), F.datediff("mxd", F.to_date("ets"))).alias("wo"),
        )
        .groupBy("s", "t")
        .agg(F.sum("wo").alias("w"))
        .withColumn("etype", F.lit("decayed"))
    )
    return key_graph(e, F.lit("actor"))


def q_decayed_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted authority: 5 fixed PageRank supersteps over the
    time-decayed events graph, top-10 actors by rounded rank."""
    from .pregel import GraphContext, PageRankProgram, run_program

    g = _decayed_graph(spark, sf_dir)
    ctx = GraphContext.build(g, 8)
    try:
        ranks = run_program(ctx, PageRankProgram(tol=0.0), fixed_iters=_DECAY_STEPS).state
    finally:
        ctx.unpersist()
    return (
        ranks.join(g.vertices, "vid")
        .select(F.col("vkey").alias("actor"), F.round("rank", 6).alias("rank"))
        .orderBy(F.desc("rank"), "actor")
        .limit(10)
    )


_DECAYED_GRAPH_CTES = """
base AS (SELECT user_id, event_type, ts, event_id FROM events),
turn AS (
  SELECT event_type AS s,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ets
  FROM base
), occ AS (
  SELECT s, t, ets FROM turn WHERE t IS NOT NULL
  UNION ALL
  SELECT 'user:' || CAST(user_id AS VARCHAR) AS s, event_type AS t, ts AS ets
  FROM base
), mx AS (SELECT max(CAST(ets AS DATE)) AS mxd FROM occ),
e AS (
  SELECT s, t,
         sum(power(0.5, date_diff('day', CAST(ets AS DATE), mx.mxd))) AS w
  FROM occ, mx GROUP BY s, t
), v AS (
  SELECT vkey, CAST(row_number() OVER (ORDER BY vkey) - 1 AS BIGINT) AS vid
  FROM (SELECT DISTINCT vkey
        FROM (SELECT s AS vkey FROM e UNION ALL SELECT t AS vkey FROM e))
), nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM v)"""


def _decayed_pagerank_sql(k: int = _DECAY_STEPS, limit: int = 10) -> str:
    from .graph_oracles import pagerank_unroll_ctes

    ctes = pagerank_unroll_ctes(k, 0.85, _DECAYED_GRAPH_CTES)
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT vkey AS actor, round(r, 6) AS rank
FROM r{k} ORDER BY rank DESC, actor LIMIT {limit}
"""
    )


SQL_DECAYED_PAGERANK = _decayed_pagerank_sql()


# --------------------------------------------------------------------------
# distributed greedy maximal matching (Israeli–Itai style proposal rounds)
# --------------------------------------------------------------------------

_MATCH_ROUNDS = 4


def q_engine_matching(
    spark: SparkSession, sf_dir: str, rounds: int = _MATCH_ROUNDS
) -> DataFrame:
    """Greedy maximal matching over the undirected simple events graph —
    the distributed-matching primitive behind pairwise dedup budgets,
    coarsening for multilevel partitioners, and b-matching samplers.
    Each round every still-unmatched vertex proposes to its minimum
    salted-hash unmatched neighbor (hash is per-EDGE, so both endpoints
    rank the edge identically and ties break by neighbor key); mutual
    proposals become matches and both endpoints retire.  The per-edge
    hash makes the schedule deterministic across engines, runs, and
    partitionings; a constant fraction of remaining edges retires per
    round in expectation (Israeli–Itai), so a fixed small round count
    covers the gate and convergence maximality goes to pytest.  Per
    round: ONE window shuffle on src + one self-equi-join of the O(V)
    proposal table + two anti-joins — all data-proportional, no collect.
    Output (a, b, matched_round)."""
    from .datapipe import _md5_int

    dk = _directed_simple(spark, sf_dir)
    und = (
        dk.unionByName(dk.select(F.col("t").alias("s"), F.col("s").alias("t")))
        .distinct()
        .localCheckpoint()
    )
    h = _md5_int(
        F.concat_ws(":", F.lit("match"), F.least("s", "t"), F.greatest("s", "t"))
    )
    matched: DataFrame | None = None
    for i in range(1, rounds + 1):
        w = Window.partitionBy("s").orderBy(h.asc(), F.col("t").asc())
        prop = (
            und.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("s", F.col("t").alias("p"))
        )
        pairs = (
            prop.alias("x")
            .join(
                prop.alias("y"),
                (F.col("x.p") == F.col("y.s")) & (F.col("y.p") == F.col("x.s")),
            )
            .where(F.col("x.s") < F.col("x.p"))
            .select(
                F.col("x.s").alias("a"),
                F.col("x.p").alias("b"),
                F.lit(i).cast("int").alias("matched_round"),
            )
            .localCheckpoint()
        )
        matched = pairs if matched is None else matched.unionByName(pairs)
        mv = pairs.select(F.col("a").alias("v")).unionByName(
            pairs.select(F.col("b").alias("v"))
        )
        und = (
            und.join(mv.withColumnRenamed("v", "s"), "s", "left_anti")
            .join(mv.withColumnRenamed("v", "t"), "t", "left_anti")
            .select("s", "t")
            .localCheckpoint()
        )
    return matched


def _matching_sql(k: int) -> str:
    from .datapipe import _sql_md5_int

    h = _sql_md5_int("concat_ws(':', 'match', least(s, t), greatest(s, t))")
    ctes = [
        _GRAPH_CTES,
        "dk AS (SELECT DISTINCT s, t FROM ek WHERE s <> t)",
        "u0 AS MATERIALIZED (SELECT DISTINCT s, t FROM "
        "(SELECT s, t FROM dk UNION ALL SELECT t AS s, s AS t FROM dk))",
    ]
    for i in range(1, k + 1):
        p = f"u{i - 1}"
        ctes.append(
            f"pr{i} AS MATERIALIZED (SELECT s, t FROM ("
            f"SELECT s, t, row_number() OVER (PARTITION BY s ORDER BY {h}, t) AS rn "
            f"FROM {p}) WHERE rn = 1)"
        )
        ctes.append(
            f"mt{i} AS MATERIALIZED (SELECT x.s AS a, x.t AS b "
            f"FROM pr{i} x JOIN pr{i} y ON y.s = x.t AND y.t = x.s "
            f"WHERE x.s < x.t)"
        )
        ctes.append(
            f"u{i} AS MATERIALIZED (SELECT u.s, u.t FROM {p} u "
            f"LEFT JOIN (SELECT a AS v FROM mt{i} UNION ALL SELECT b AS v FROM mt{i}) "
            f"m1 ON m1.v = u.s "
            f"LEFT JOIN (SELECT a AS v FROM mt{i} UNION ALL SELECT b AS v FROM mt{i}) "
            f"m2 ON m2.v = u.t "
            f"WHERE m1.v IS NULL AND m2.v IS NULL)"
        )
    union = "\nUNION ALL\n".join(
        f"SELECT a, b, CAST({i} AS INTEGER) AS matched_round FROM mt{i}"
        for i in range(1, k + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + union


SQL_ENGINE_MATCHING = _matching_sql(_MATCH_ROUNDS)


def q_edge_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link churn between two crawl snapshots — the classic web-graph
    stability measure: split the event timeline at the midpoint of
    [min_ts, max_ts] (exact int64 epoch-microseconds midpoint), derive the
    distinct directed simple edge set INDEPENDENTLY per half (turn edges
    re-sessionized within each half, as a real re-crawl would), and report
    retained / added / removed edge counts plus the integer-ratio Jaccard
    stability.  Two window passes + three combinable set aggregates; the
    1-row min/max bound is a broadcast, not a collect.  Output one row
    (n_old, n_new, retained, added, removed, jaccard_pct)."""
    e = load_table(spark, sf_dir, "events")
    bounds = e.agg(
        F.min(F.unix_micros(F.col("ts").cast("timestamp"))).alias("_lo"),
        F.max(F.unix_micros(F.col("ts").cast("timestamp"))).alias("_hi"),
    )
    ew = e.crossJoin(F.broadcast(bounds)).withColumn(
        "_half",
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            >= (F.col("_lo") + F.col("_hi")) / F.lit(2)
        ).cast("int"),
    )

    def half_edges(h: int):
        sub = ew.where(F.col("_half") == h)
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        turn = (
            sub.select(
                F.col("event_type").alias("s"),
                F.lead("event_type").over(w).alias("t"),
            )
            .where(F.col("t").isNotNull())
        )
        tool = sub.select(
            F.concat(F.lit("user:"), F.col("user_id").cast("string")).alias("s"),
            F.col("event_type").alias("t"),
        )
        return (
            turn.unionByName(tool).where(F.col("s") != F.col("t")).distinct()
        )

    old, new = half_edges(0), half_edges(1)
    retained = old.join(new, ["s", "t"]).agg(F.count(F.lit(1)).alias("retained"))
    n_old = old.agg(F.count(F.lit(1)).alias("n_old"))
    n_new = new.agg(F.count(F.lit(1)).alias("n_new"))
    return (
        n_old.crossJoin(n_new)
        .crossJoin(retained)
        .select(
            "n_old",
            "n_new",
            "retained",
            (F.col("n_new") - F.col("retained")).alias("added"),
            (F.col("n_old") - F.col("retained")).alias("removed"),
            F.round(
                F.col("retained").cast("double")
                / (F.col("n_old") + F.col("n_new") - F.col("retained")),
                6,
            ).alias("jaccard_pct"),
        )
    )


SQL_EDGE_CHURN = """
WITH b AS (
  SELECT min(epoch_us(ts)) AS lo,
         max(epoch_us(ts)) AS hi
  FROM events
), ew AS (
  SELECT e.*, CASE WHEN epoch_us(e.ts)
                        >= (b.lo + b.hi) / 2.0 THEN 1 ELSE 0 END AS half
  FROM events e, b
), t0 AS (
  SELECT event_type AS s,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t
  FROM ew WHERE half = 0
), t1 AS (
  SELECT event_type AS s,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t
  FROM ew WHERE half = 1
), e0 AS (
  SELECT DISTINCT s, t FROM (
    SELECT s, t FROM t0 WHERE t IS NOT NULL
    UNION ALL
    SELECT 'user:' || CAST(user_id AS VARCHAR) AS s, event_type AS t
    FROM ew WHERE half = 0
  ) WHERE s <> t
), e1 AS (
  SELECT DISTINCT s, t FROM (
    SELECT s, t FROM t1 WHERE t IS NOT NULL
    UNION ALL
    SELECT 'user:' || CAST(user_id AS VARCHAR) AS s, event_type AS t
    FROM ew WHERE half = 1
  ) WHERE s <> t
), c AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM e0) AS n_old,
         (SELECT CAST(count(*) AS BIGINT) FROM e1) AS n_new,
         (SELECT CAST(count(*) AS BIGINT) FROM e0 JOIN e1 USING (s, t)) AS retained
)
SELECT n_old, n_new, retained,
       n_new - retained AS added,
       n_old - retained AS removed,
       round(CAST(retained AS DOUBLE) / (n_old + n_new - retained), 6)
         AS jaccard_pct
FROM c
"""


def q_vertex_cover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-approximate minimum vertex cover = both endpoints of a maximal
    matching (the classic Gavril/Yannakakis bound): every edge touches a
    matched vertex (maximality) and any cover needs >= |M| vertices, so
    |cover| = 2|M| <= 2·OPT.  Runs the proposal-round matching to its
    gate-fixed schedule and emits the distinct endpoint set with the round
    each vertex was sealed in.  Output (vkey, matched_round)."""
    m = q_engine_matching(spark, sf_dir)
    return (
        m.select(F.col("a").alias("vkey"), "matched_round")
        .unionByName(m.select(F.col("b").alias("vkey"), "matched_round"))
        .groupBy("vkey")
        .agg(F.min("matched_round").alias("matched_round"))
    )


# nested WITH inside the subquery keeps the matching oracle verbatim
SQL_VERTEX_COVER = f"""
WITH m AS ({SQL_ENGINE_MATCHING})
SELECT vkey, CAST(min(matched_round) AS INTEGER) AS matched_round
FROM (
  SELECT a AS vkey, matched_round FROM m
  UNION ALL
  SELECT b AS vkey, matched_round FROM m
)
GROUP BY vkey
"""


# --------------------------------------------------------------------------
# bond-percolation robustness profile (giant component vs edge retention)
# --------------------------------------------------------------------------

_PERC_PS = (25, 50, 75, 100)


def q_percolation_giant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bond-percolation robustness audit: retain each undirected simple
    edge iff its salted hash bucket < p (deterministic Bernoulli(p) in
    distribution, bit-identical cross-engine), re-run the hash-min CC
    engine at each retention level, and report the giant-component size
    and component count — the standard connectivity-robustness profile
    ("how much link loss until the web graph shatters").  Four CC engine
    runs over shrinking edge sets; the hash filter is a pure column
    predicate fused into the edge scan, vertices are kept at every level
    so singletons count.  Output (p_pct, n_edges_kept, giant_size,
    n_components)."""
    from .datapipe import _md5_int
    from .derive import GraphTables, build_degrees
    from .flagship import events_graph
    from .io import load_table
    from .pregel import ComponentsProgram, GraphContext, run_program

    g = events_graph(load_table(spark, sf_dir, "events"))
    v = g.vertices
    undk = (
        g.edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("w")
        )
        .where(F.col("u") != F.col("w"))
        .distinct()
        .join(
            F.broadcast(v.select(F.col("vid").alias("u"), F.col("vkey").alias("uk"))),
            "u",
        )
        .join(
            F.broadcast(v.select(F.col("vid").alias("w"), F.col("vkey").alias("wk"))),
            "w",
        )
        .withColumn(
            "bkt",
            _md5_int(F.concat_ws(":", F.lit("perc"), F.col("uk"), F.col("wk")))
            % 100,
        )
        .select("u", "w", "bkt")
        .localCheckpoint()
    )
    out: DataFrame | None = None
    for p in _PERC_PS:
        ep = undk.where(F.col("bkt") < p)
        edges = (
            ep.select(F.col("u").alias("src"), F.col("w").alias("dst"))
            .unionByName(ep.select(F.col("w").alias("src"), F.col("u").alias("dst")))
            .select("src", "dst", F.lit("perc").alias("etype"), F.lit(1.0).alias("w"))
        )
        gg = GraphTables(v, edges, build_degrees(edges, v))
        ctx = GraphContext.build(gg, 8)
        try:
            res = run_program(ctx, ComponentsProgram(), max_iter=100)
            if not res.converged:
                raise RuntimeError("percolation CC did not converge")
            sizes = res.state.groupBy("comp").agg(F.count(F.lit(1)).alias("sz"))
            stats = (
                ep.agg(F.count(F.lit(1)).alias("n_edges_kept"))
                .crossJoin(
                    sizes.agg(
                        F.max("sz").alias("giant_size"),
                        F.count(F.lit(1)).alias("n_components"),
                    )
                )
                .select(
                    F.lit(p).cast("int").alias("p_pct"),
                    "n_edges_kept",
                    "giant_size",
                    "n_components",
                )
                .localCheckpoint()
            )
        finally:
            ctx.unpersist()
        out = stats if out is None else out.unionByName(stats)
    return out


def _percolation_sql() -> str:
    from .datapipe import _sql_md5_int

    h = _sql_md5_int("concat_ws(':', 'perc', uk, wk)")
    ctes = [
        _GRAPH_CTES,
        "cu AS (SELECT DISTINCT least(s, t) AS uk, greatest(s, t) AS wk "
        "FROM ek WHERE s <> t)",
        f"cb AS MATERIALIZED (SELECT uk, wk, {h} % 100 AS bkt FROM cu)",
    ]
    selects = []
    for p in _PERC_PS:
        ctes.append(
            f"e{p} AS MATERIALIZED (SELECT uk AS a, wk AS b FROM cb WHERE bkt < {p} "
            f"UNION ALL SELECT wk AS a, uk AS b FROM cb WHERE bkt < {p})"
        )
        ctes.append(
            f"r{p} AS MATERIALIZED (WITH RECURSIVE rr(x, root) AS ("
            f"SELECT vkey, vkey FROM v "
            f"UNION SELECT e.b, rr.root FROM rr JOIN e{p} e ON e.a = rr.x) "
            f"SELECT x, min(root) AS comp FROM rr GROUP BY x)"
        )
        ctes.append(
            f"s{p} AS (SELECT comp, CAST(count(*) AS BIGINT) AS sz FROM r{p} GROUP BY comp)"
        )
        selects.append(
            f"SELECT CAST({p} AS INTEGER) AS p_pct, "
            f"(SELECT CAST(count(*) AS BIGINT) FROM cb WHERE bkt < {p}) AS n_edges_kept, "
            f"(SELECT max(sz) FROM s{p}) AS giant_size, "
            f"(SELECT CAST(count(*) AS BIGINT) FROM s{p}) AS n_components"
        )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)


SQL_PERCOLATION_GIANT = _percolation_sql()


_ATTACK_KS = (0, 1, 2, 4, 8)


def q_attack_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Targeted-attack robustness curve (site percolation under hub
    removal): remove the top-k highest-degree vertices (ties → min vkey),
    re-run the hash-min CC engine on the surviving graph, and report the
    giant-component size among SURVIVING vertices — the complement of
    bond percolation (q_percolation_giant): random link loss vs targeted
    hub takedown, the pair every robustness analysis plots together
    (scale-free graphs shrug off the former and shatter under the
    latter).

    Scale posture: degree ranking = ONE combinable groupBy + a top-k over
    the vertex aggregate; removal is a broadcast anti-join fused into the
    edge scan; five CC engine runs over shrinking edge sets.  Output
    (k_removed, n_edges_kept, giant_size, n_components)."""
    from .derive import GraphTables, build_degrees
    from .flagship import events_graph
    from .io import load_table
    from .pregel import ComponentsProgram, GraphContext, run_program

    g = events_graph(load_table(spark, sf_dir, "events"))
    v = g.vertices
    undk = (
        g.edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("w")
        )
        .where(F.col("u") != F.col("w"))
        .distinct()
        .localCheckpoint()
    )
    deg = (
        undk.select(F.col("u").alias("vid"))
        .unionByName(undk.select(F.col("w").alias("vid")))
        .groupBy("vid")
        .agg(F.count(F.lit(1)).alias("deg"))
        .join(v.select("vid", "vkey"), "vid")
    )
    rw = Window.orderBy(F.desc("deg"), F.asc("vkey"))
    ranked = deg.withColumn("rk", F.row_number().over(rw)).localCheckpoint()
    out: DataFrame | None = None
    for k in _ATTACK_KS:
        removed = F.broadcast(
            ranked.where(F.col("rk") <= k).select("vid").localCheckpoint()
        )
        ek = (
            undk.join(removed.withColumnRenamed("vid", "u"), "u", "left_anti")
            .join(removed.withColumnRenamed("vid", "w"), "w", "left_anti")
        )
        edges = (
            ek.select(F.col("u").alias("src"), F.col("w").alias("dst"))
            .unionByName(ek.select(F.col("w").alias("src"), F.col("u").alias("dst")))
            .select("src", "dst", F.lit("atk").alias("etype"), F.lit(1.0).alias("w"))
        )
        gg = GraphTables(v, edges, build_degrees(edges, v))
        ctx = GraphContext.build(gg, 8)
        try:
            res = run_program(ctx, ComponentsProgram(), max_iter=100)
            if not res.converged:
                raise RuntimeError("attack-tolerance CC did not converge")
            sizes = (
                res.state.join(removed, "vid", "left_anti")
                .groupBy("comp")
                .agg(F.count(F.lit(1)).alias("sz"))
            )
            stats = (
                ek.agg(F.count(F.lit(1)).alias("n_edges_kept"))
                .crossJoin(
                    sizes.agg(
                        F.max("sz").alias("giant_size"),
                        F.count(F.lit(1)).alias("n_components"),
                    )
                )
                .select(
                    F.lit(k).cast("long").alias("k_removed"),
                    "n_edges_kept",
                    "giant_size",
                    "n_components",
                )
                .localCheckpoint()
            )
        finally:
            ctx.unpersist()
        out = stats if out is None else out.unionByName(stats)
    return out


def _attack_sql() -> str:
    ctes = [
        _GRAPH_CTES,
        "cu AS MATERIALIZED (SELECT DISTINCT least(s, t) AS uk, "
        "greatest(s, t) AS wk FROM ek WHERE s <> t)",
        "degk AS (SELECT vkey, CAST(count(*) AS BIGINT) AS deg FROM "
        "(SELECT uk AS vkey FROM cu UNION ALL SELECT wk AS vkey FROM cu) "
        "GROUP BY vkey)",
        "rnk AS MATERIALIZED (SELECT vkey, row_number() OVER "
        "(ORDER BY deg DESC, vkey ASC) AS rk FROM degk)",
    ]
    selects = []
    for k in _ATTACK_KS:
        ctes.append(
            f"ek{k} AS MATERIALIZED (SELECT uk, wk FROM cu "
            f"WHERE uk NOT IN (SELECT vkey FROM rnk WHERE rk <= {k}) "
            f"AND wk NOT IN (SELECT vkey FROM rnk WHERE rk <= {k}))"
        )
        ctes.append(
            f"be{k} AS MATERIALIZED (SELECT uk AS a, wk AS b FROM ek{k} "
            f"UNION ALL SELECT wk AS a, uk AS b FROM ek{k})"
        )
        ctes.append(
            f"r{k} AS MATERIALIZED (WITH RECURSIVE rr(x, root) AS ("
            f"SELECT vkey, vkey FROM v "
            f"WHERE vkey NOT IN (SELECT vkey FROM rnk WHERE rk <= {k}) "
            f"UNION SELECT e.b, rr.root FROM rr JOIN be{k} e ON e.a = rr.x) "
            f"SELECT x, min(root) AS comp FROM rr GROUP BY x)"
        )
        ctes.append(
            f"s{k} AS (SELECT comp, CAST(count(*) AS BIGINT) AS sz "
            f"FROM r{k} GROUP BY comp)"
        )
        selects.append(
            f"SELECT CAST({k} AS BIGINT) AS k_removed, "
            f"(SELECT CAST(count(*) AS BIGINT) FROM ek{k}) AS n_edges_kept, "
            f"(SELECT max(sz) FROM s{k}) AS giant_size, "
            f"(SELECT CAST(count(*) AS BIGINT) FROM s{k}) AS n_components"
        )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)


SQL_ATTACK_TOLERANCE = _attack_sql()


# --------------------------------------------------------------------------
# k-step hitting probability to an absorbing target (§2.15 row 183):
# h_0(v) = [v ∈ T]; h_i(v) = 1 for v ∈ T else Σ_t P(v,t)·h_{i-1}(t) with
# P row-normalized from edge multiplicities — "probability a random walk
# from v reaches an `error` event within k steps", the absorbing-chain
# analytic behind failure-funnel and exposure models.
# Scale posture: k fixed shuffles of (join on t → groupBy s); message
# volume = |E| per step, state = one double per vertex; no collect.
# --------------------------------------------------------------------------

_HIT_TARGET = "error"
_HIT_STEPS = 4


def _weighted_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(s, t, w) edge multiplicities of the events graph — mirrors the
    ``e`` CTE of graph_oracles._GRAPH_CTES."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    turn = (
        e.select(
            F.col("event_type").alias("s"),
            F.lead("event_type").over(w).alias("t"),
        )
        .where(F.col("t").isNotNull())
    )
    tool = e.select(
        F.concat(F.lit("user:"), F.col("user_id").cast("string")).alias("s"),
        F.col("event_type").alias("t"),
    )
    return (
        turn.unionByName(tool)
        .groupBy("s", "t")
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )


def q_hitting_prob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-step hitting probability of the `error` vertex per start vertex.

    Fixed ``_HIT_STEPS`` supersteps (so the unrolled-CTE oracle replays the
    identical schedule); target vertex absorbs (h ≡ 1).  Output every
    vertex: (vkey, hit_prob)."""
    e = _weighted_edges(spark, sf_dir)
    outw = e.groupBy("s").agg(F.sum("w").alias("out_w"))
    p = e.join(outw, "s").select("s", "t", (F.col("w") / F.col("out_w")).alias("c"))
    v = (
        e.select(F.col("s").alias("vkey"))
        .unionByName(e.select(F.col("t").alias("vkey")))
        .distinct()
    )
    is_t = F.col("vkey") == _HIT_TARGET
    h = v.select("vkey", F.when(is_t, 1.0).otherwise(0.0).alias("h"))
    for _ in range(_HIT_STEPS):
        msg = (
            p.join(h.withColumnRenamed("vkey", "t"), "t")
            .groupBy("s")
            .agg(F.sum(F.col("c") * F.col("h")).alias("acc"))
        )
        h = (
            v.join(msg.withColumnRenamed("s", "vkey"), "vkey", "left")
            .select(
                "vkey",
                F.when(is_t, 1.0)
                .otherwise(F.coalesce(F.col("acc"), F.lit(0.0)))
                .alias("h"),
            )
        )
    return h.select("vkey", F.round("h", 6).alias("hit_prob"))


def _hitting_sql(k: int = _HIT_STEPS) -> str:
    ctes = [
        _GRAPH_CTES.strip().lstrip(),
        "outw AS (SELECT s, sum(w) AS out_w FROM e GROUP BY s)",
        "p AS (SELECT e.s, e.t, e.w / o.out_w AS c FROM e JOIN outw o USING (s))",
        f"h0 AS (SELECT vkey, CASE WHEN vkey = '{_HIT_TARGET}' THEN 1.0 "
        "ELSE 0.0 END AS h FROM v)",
    ]
    for i in range(1, k + 1):
        ctes.append(
            f"h{i} AS (SELECT v.vkey, CASE WHEN v.vkey = '{_HIT_TARGET}' "
            f"THEN 1.0 ELSE coalesce(sum(p.c * h.h), 0.0) END AS h "
            f"FROM v LEFT JOIN p ON p.s = v.vkey "
            f"LEFT JOIN h{i - 1} h ON h.vkey = p.t "
            f"GROUP BY v.vkey)"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT vkey, round(h, 6) AS hit_prob FROM h{k}"
    )


SQL_HITTING_PROB = _hitting_sql()


# --------------------------------------------------------------------------
# longest-path levels on the oriented DAG (§2.15 row 184): orient the
# undirected simple view by vkey order (the same acyclic trick the triangle
# counter uses), then propagate level(v) = 1 + max(level of predecessors)
# to the fixed point — topological depth / critical-path layering, the
# scheduling primitive for dependency graphs.
# Scale posture: each round is one join + one max-aggregate shuffle; rounds
# = DAG depth (bounded, checked); state = one int per vertex; no collect
# beyond the 1-row convergence stat.
# --------------------------------------------------------------------------

_DAG_MAX_ROUNDS = 16


def q_dag_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topological levels (longest path from any source) of the oriented
    DAG.  Runs max-propagation to the true fixed point (bounded by
    ``_DAG_MAX_ROUNDS``; raises if the DAG were deeper), so the recursive-
    CTE oracle's exact closure is matched.  Output (vkey, level)."""
    und = _directed_simple(spark, sf_dir)
    # oriented acyclic view: a < b lexically (triangles.py convention)
    dag = (
        und.select(
            F.least("s", "t").alias("a"), F.greatest("s", "t").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    v = (
        dag.select(F.col("a").alias("vkey"))
        .unionByName(dag.select(F.col("b").alias("vkey")))
        .distinct()
    )
    lvl = v.select("vkey", F.lit(0).cast("long").alias("level"))
    for _ in range(_DAG_MAX_ROUNDS):
        upd = (
            dag.join(lvl.withColumnRenamed("vkey", "a"), "a")
            .groupBy(F.col("b").alias("vkey"))
            .agg((F.max("level") + F.lit(1)).alias("cand"))
        )
        nxt = (
            lvl.join(upd, "vkey", "left")
            .select(
                "vkey",
                F.greatest(F.col("level"), F.coalesce(F.col("cand"), F.lit(0)))
                .alias("level"),
            )
        ).localCheckpoint()
        changed = (
            nxt.join(lvl.withColumnRenamed("level", "old"), "vkey")
            .where(F.col("level") != F.col("old"))
            .count()
        )
        lvl = nxt
        if changed == 0:
            return lvl
    raise RuntimeError(
        f"DAG levels did not converge in {_DAG_MAX_ROUNDS} rounds"
    )


SQL_DAG_LEVELS = f"""
WITH {_GRAPH_CTES.strip()},
und AS (
  SELECT DISTINCT least(s, t) AS a, greatest(s, t) AS b
  FROM ek WHERE s <> t
), dv AS (
  SELECT DISTINCT vkey FROM (SELECT a AS vkey FROM und
                             UNION ALL SELECT b AS vkey FROM und)
), paths AS (
  WITH RECURSIVE pr(vkey, lvl) AS (
    SELECT vkey, CAST(0 AS BIGINT) FROM dv
    UNION
    SELECT u.b, pr.lvl + 1 FROM pr JOIN und u ON u.a = pr.vkey
  )
  SELECT vkey, max(lvl) AS level FROM pr GROUP BY vkey
)
SELECT vkey, level FROM paths
"""


# --------------------------------------------------------------------------
# 3-clique percolation communities (§2.15 row 186; Palla et al. 2005):
# two triangles are adjacent iff they share an edge; a community is the
# vertex union of a connected component of triangle adjacency.  The
# overlapping-community method — a vertex can sit in several communities.
# Scale posture: triangles from the oriented 2-join (never V²); adjacency
# via a per-edge STAR to the min triangle id (linear in triangle-edge
# incidences, no within-group pair blowup); components through the
# hash-min Pregel engine reused from datapipe.cluster_pairs.
# --------------------------------------------------------------------------

def q_triangle_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Communities of the 3-clique percolation graph: one row per
    community — (community = min member triangle id, n_triangles,
    n_vertices)."""
    from .datapipe import _md5_int, cluster_pairs

    # und feeds the 3-way triangle self-join and tid feeds 4 consumers (the
    # 3 edge projections + the membership join); materialized once so the
    # plan stops re-deriving the graph per reference (audit: 124 Exchanges /
    # 156 scans, 8.0 s at sf0.01 — guide §2.4).
    und = (
        _directed_simple(spark, sf_dir)
        .select(F.least("s", "t").alias("a"), F.greatest("s", "t").alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    e1 = und
    e2 = und.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = und.select(F.col("a").alias("a"), F.col("b").alias("c"))
    tri = (
        e1.join(e2, "b")
        .join(e3, ["a", "c"])
        .select("a", "b", "c")
    )
    tid = tri.withColumn(
        "t", _md5_int(F.concat_ws("|", F.col("a"), F.col("b"), F.col("c")))
    ).localCheckpoint()
    te = None
    for x, y in (("a", "b"), ("b", "c"), ("a", "c")):
        part = tid.select(
            F.concat_ws("|", F.col(x), F.col(y)).alias("ekey"), "t"
        )
        te = part if te is None else te.unionByName(part)
    star = te.select(
        F.col("t").alias("doc_a"),
        F.min("t").over(Window.partitionBy("ekey")).alias("doc_b"),
    ).distinct().localCheckpoint()  # consumed 3x inside cluster_pairs
    comp = cluster_pairs(star)  # (doc_id = triangle id, canon_doc = community)
    memb = (
        comp.join(tid, comp["doc_id"] == tid["t"])
        .select(
            F.col("canon_doc").alias("community"),
            "t",
            F.explode(F.array("a", "b", "c")).alias("vkey"),
        )
    )
    return memb.groupBy("community").agg(
        F.countDistinct("t").alias("n_triangles"),
        F.countDistinct("vkey").alias("n_vertices"),
    )


def _sql_tri_md5(expr: str) -> str:
    from .datapipe import _sql_md5_int

    return _sql_md5_int(expr)


SQL_TRIANGLE_COMMUNITIES = f"""
WITH {_GRAPH_CTES.strip()},
und AS (
  SELECT DISTINCT least(s, t) AS a, greatest(s, t) AS b
  FROM ek WHERE s <> t
), tri AS (
  SELECT e1.a AS a, e1.b AS b, e2.b AS c
  FROM und e1
  JOIN und e2 ON e2.a = e1.b
  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
), tid AS (
  SELECT {_sql_tri_md5("a || '|' || b || '|' || c")} AS t, a, b, c FROM tri
), te AS (
  SELECT a || '|' || b AS ekey, t FROM tid
  UNION ALL SELECT b || '|' || c, t FROM tid
  UNION ALL SELECT a || '|' || c, t FROM tid
), star AS (
  SELECT DISTINCT t AS x, min(t) OVER (PARTITION BY ekey) AS y FROM te
), ue AS (
  SELECT x, y FROM star UNION SELECT y AS x, x AS y FROM star
), reach AS (
  WITH RECURSIVE rr(v, root) AS (
    SELECT t, t FROM (SELECT DISTINCT t FROM tid)
    UNION
    SELECT ue.y, rr.root FROM rr JOIN ue ON ue.x = rr.v
  )
  SELECT v, min(root) AS comp FROM rr GROUP BY v
), memb AS (
  SELECT r.comp AS community, tid.t, unnest([tid.a, tid.b, tid.c]) AS vkey
  FROM reach r JOIN tid ON tid.t = r.v
)
SELECT community,
       CAST(count(DISTINCT t) AS BIGINT) AS n_triangles,
       CAST(count(DISTINCT vkey) AS BIGINT) AS n_vertices
FROM memb GROUP BY community
"""


# --------------------------------------------------------------------------
# rank-stability audit (§2.15 row 188): run the SAME fixed-k PageRank on
# two disjoint halves of the event log (event_id parity split) and report
# how far each top-k vertex moves between the two rankings — the standard
# split-half robustness check before trusting a centrality ordering.
# Scale posture: two independent fixed-k engine runs over half-sized
# graphs + one broadcast-sized join of the two rank tables; the parity
# split is a pure column predicate that fuses into the scan.
# --------------------------------------------------------------------------

_STAB_STEPS = 5
_STAB_TOPK = 20


def _parity_graph(spark: SparkSession, sf_dir: str, parity: int):
    from .derive import key_graph

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 2 == parity
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    turn = ev.select(
        F.col("event_type").alias("s"),
        F.lead("event_type").over(w).alias("t"),
    ).where(F.col("t").isNotNull())
    tool = ev.select(
        F.concat(F.lit("user:"), F.col("user_id").cast("string")).alias("s"),
        F.col("event_type").alias("t"),
    )
    e = (
        turn.unionByName(tool)
        .groupBy("s", "t")
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
        .withColumn("etype", F.lit("half"))
    )
    return key_graph(e, F.lit("actor"))


def q_rank_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-half PageRank stability: for every vertex in the even-half
    top-``_STAB_TOPK``, its rank position in BOTH halves and the absolute
    position delta.  Positions rank on the ROUNDED score with vkey
    tiebreak so both engines order identically."""
    from .pregel import GraphContext, PageRankProgram, run_program

    pos = []
    for p in (0, 1):
        g = _parity_graph(spark, sf_dir, p)
        ctx = GraphContext.build(g, 8)
        try:
            ranks = run_program(ctx, PageRankProgram(tol=0.0), fixed_iters=_STAB_STEPS).state
        finally:
            ctx.unpersist()
        r = ranks.join(g.vertices, "vid").select(
            "vkey", F.round("rank", 6).alias("r")
        )
        w = Window.orderBy(F.desc("r"), "vkey")
        pos.append(
            r.select(
                "vkey", F.row_number().over(w).cast("long").alias(f"pos{p}")
            )
        )
    even, odd = pos
    return (
        even.where(F.col("pos0") <= _STAB_TOPK)
        .join(odd, "vkey")
        .select(
            "vkey",
            F.col("pos0").alias("pos_even"),
            F.col("pos1").alias("pos_odd"),
            F.abs(F.col("pos0") - F.col("pos1")).alias("delta"),
        )
    )


def _stab_half_sql(parity: int) -> str:
    from .graph_oracles import pagerank_unroll_ctes

    gc = _GRAPH_CTES.replace(
        "SELECT user_id, event_type, ts, event_id FROM events",
        "SELECT user_id, event_type, ts, event_id FROM events "
        f"WHERE event_id % 2 = {parity}",
    )
    ctes = pagerank_unroll_ctes(_STAB_STEPS, 0.85, gc)
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT vkey, round(r, 6) AS r FROM r{_STAB_STEPS}"
    )


SQL_RANK_STABILITY = f"""
WITH even AS (
{_stab_half_sql(0)}
), odd AS (
{_stab_half_sql(1)}
), pe AS (
  SELECT vkey, row_number() OVER (ORDER BY r DESC, vkey) AS pos_even FROM even
), po AS (
  SELECT vkey, row_number() OVER (ORDER BY r DESC, vkey) AS pos_odd FROM odd
)
SELECT pe.vkey AS vkey, CAST(pe.pos_even AS BIGINT) AS pos_even,
       CAST(po.pos_odd AS BIGINT) AS pos_odd,
       CAST(abs(pe.pos_even - po.pos_odd) AS BIGINT) AS delta
FROM pe JOIN po USING (vkey)
WHERE pe.pos_even <= {_STAB_TOPK}
"""


# --------------------------------------------------------------------------
# power-law degree-distribution fit (§2.15 row 190; Clauset–Shalizi–Newman
# 2009 continuous MLE): alpha = 1 + n / Σ ln(d_i / (d_min − ½)) over the
# undirected simple-view degrees — the standard "is this graph scale-free
# and how heavy is the tail" summary that sizes hub-splitting budgets.
# Scale posture: one degree hash-agg + one combinable global sum; no joins.
# --------------------------------------------------------------------------

_PLAW_DMIN = 1


def q_powerlaw_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: (n_vertices, d_min, d_max, alpha) of the CSN continuous
    MLE over degrees >= ``_PLAW_DMIN``."""
    und = (
        _directed_simple(spark, sf_dir)
        .select(F.least("s", "t").alias("a"), F.greatest("s", "t").alias("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("vkey"))
        .unionByName(und.select(F.col("b").alias("vkey")))
        .groupBy("vkey")
        .agg(F.count(F.lit(1)).alias("d"))
        .where(F.col("d") >= _PLAW_DMIN)
    )
    return deg.agg(
        F.count(F.lit(1)).alias("n_vertices"),
        F.lit(_PLAW_DMIN).cast("long").alias("d_min"),
        F.max("d").alias("d_max"),
        F.round(
            F.lit(1.0)
            + F.count(F.lit(1))
            / F.sum(F.log(F.col("d") / F.lit(_PLAW_DMIN - 0.5))),
            6,
        ).alias("alpha"),
    )


SQL_POWERLAW_ALPHA = f"""
WITH {_GRAPH_CTES.strip()},
und AS (
  SELECT DISTINCT least(s, t) AS a, greatest(s, t) AS b
  FROM ek WHERE s <> t
), deg AS (
  SELECT vkey, count(*) AS d
  FROM (SELECT a AS vkey FROM und UNION ALL SELECT b AS vkey FROM und)
  GROUP BY vkey HAVING count(*) >= {_PLAW_DMIN}
)
SELECT CAST(count(*) AS BIGINT) AS n_vertices,
       CAST({_PLAW_DMIN} AS BIGINT) AS d_min,
       CAST(max(d) AS BIGINT) AS d_max,
       round(1.0 + count(*) / sum(ln(d / {_PLAW_DMIN - 0.5})), 6) AS alpha
FROM deg
"""


# --------------------------------------------------------------------------
# edge embeddedness / neighborhood overlap (§2.15 row 214): Granovetter's
# tie-strength audit.  For each undirected edge (u,v), overlap =
# |N(u)∩N(v)| / |N(u)∪N(v)∖{u,v}|; local bridges (overlap 0) are the weak
# ties that carry novel information, deeply-embedded edges (overlap → 1)
# live inside communities.  Reported as an 11-bucket histogram (bucket =
# ⌊10·overlap⌋, so bucket 10 = fully embedded) with exact integer
# numerator/denominator sums — no double ever decides a bucket boundary.
# --------------------------------------------------------------------------

def q_edge_embeddedness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood-overlap histogram over the undirected simple events
    graph.  Common-neighbor counts per edge use the k-truss support shape
    (two self equi-joins on the edge set, count aggregated straight off
    the closing join — the triangle pass is the minimum any exact method
    pays and the edge never fans out beyond degree products); degrees are
    one hash aggregate, the final groupBy is 11 rows.  The bucket index
    ⌊10·cn/denom⌋ is exact int64 arithmetic (a − a%b)/b, denom =
    deg(u)+deg(v)−2−cn; isolated edges (denom 0) land in bucket 0.
    Output (bucket, n_edges, sum_cn, sum_denom)."""
    dk = _directed_simple(spark, sf_dir)
    und = (
        dk.select(F.least("s", "t").alias("u"), F.greatest("s", "t").alias("v"))
        .distinct()
    )
    full = und.unionByName(
        und.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    x = full.select(F.col("u").alias("xu"), F.col("v").alias("xv"))
    y = full.select(F.col("u").alias("yu"), F.col("v").alias("yv"))
    sup = (
        und.join(x, F.col("xu") == F.col("u"))
        .join(y, (F.col("yu") == F.col("v")) & (F.col("yv") == F.col("xv")))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    deg = full.groupBy(F.col("u").alias("x")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    e = (
        und.join(sup, ["u", "v"], "left")
        .na.fill({"cn": 0})
        .join(deg.select(F.col("x").alias("u"), F.col("deg").alias("du")), "u")
        .join(deg.select(F.col("x").alias("v"), F.col("deg").alias("dv")), "v")
    )
    denom = F.col("du") + F.col("dv") - F.lit(2) - F.col("cn")
    a = F.lit(10).cast("long") * F.col("cn")
    bucket = F.when(
        denom > 0, ((a - a % denom) / denom).cast("long")
    ).otherwise(F.lit(0).cast("long"))
    return (
        e.select(bucket.alias("bucket"), "cn", denom.alias("denom"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_edges"),
            F.sum("cn").alias("sum_cn"),
            F.sum("denom").alias("sum_denom"),
        )
        .orderBy("bucket")
    )


SQL_EDGE_EMBEDDEDNESS = (
    "WITH "
    + _GRAPH_CTES
    + """,
und AS (
  SELECT DISTINCT least(s, t) AS u, greatest(s, t) AS v FROM ek WHERE s <> t
), fl AS (
  SELECT u, v FROM und UNION ALL SELECT v AS u, u AS v FROM und
), sup AS (
  SELECT e.u, e.v, CAST(count(*) AS BIGINT) AS cn
  FROM und e
  JOIN fl x ON x.u = e.u
  JOIN fl y ON y.u = e.v AND y.v = x.v
  GROUP BY e.u, e.v
), deg AS (
  SELECT u AS x, CAST(count(*) AS BIGINT) AS deg FROM fl GROUP BY u
), ee AS (
  SELECT coalesce(s.cn, 0) AS cn,
         du.deg + dv.deg - 2 - coalesce(s.cn, 0) AS denom
  FROM und e
  LEFT JOIN sup s ON s.u = e.u AND s.v = e.v
  JOIN deg du ON du.x = e.u
  JOIN deg dv ON dv.x = e.v
)
SELECT CAST(CASE WHEN denom > 0 THEN (10 * cn) // denom ELSE 0 END AS BIGINT)
         AS bucket,
       count(*) AS n_edges,
       CAST(sum(cn) AS BIGINT) AS sum_cn,
       CAST(sum(denom) AS BIGINT) AS sum_denom
FROM ee GROUP BY 1 ORDER BY bucket
"""
)


# --------------------------------------------------------------------------
# densification power law (§2.15 row 216): Leskovec-Kleinberg-Faloutsos —
# growing graphs densify as E(t) ∝ V(t)^a with a > 1, so average degree
# RISES over time.  The audit that says whether an incremental pipeline's
# per-snapshot cost model can assume constant degree (it cannot when
# a ≈ 1.2-1.7, the empirically universal range).  Cumulative V/E counts
# are exact int64 off first-seen weeks; the exponent is the closed-form
# log-log least-squares slope over the (tiny) weekly curve.
# --------------------------------------------------------------------------

def q_densification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cumulative (vertices, edges) curve of the events graph with
    the exact-integer average degree per snapshot — a RISING avg degree
    is the densification law's observable (on this corpus the vertex set
    saturates in week one while edges keep arriving, i.e. pure
    densification).  First-seen timestamps: a turn edge exists when its
    SECOND event lands (lead ts), a tool edge at its event's ts; a vertex
    first appears with its first incident edge.  Per-edge/per-vertex
    min-week is one combinable groupBy each; the two weekly histograms
    are week-count-sized, so the cumulative windows run over tens of
    rows, not the graph.  avgdeg_micro = ⌊1e6·cum_edges/cum_vertices⌉
    exact int64 (the _micro_ratio trick), never a double.  Output
    (week, cum_vertices, cum_edges, avgdeg_micro)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    turn = (
        e.select(
            F.col("event_type").alias("s"),
            F.lead("event_type").over(w).alias("t"),
            F.lead(us).over(w).alias("eus"),
        )
        .where(F.col("t").isNotNull())
    )
    tool = e.select(
        F.concat(F.lit("user:"), F.col("user_id").cast("string")).alias("s"),
        F.col("event_type").alias("t"),
        us.alias("eus"),
    )
    week = ((F.col("eus") / F.lit(1_000_000)).cast("long") / 604800).cast("long")
    ew = (
        turn.unionByName(tool)
        .where(F.col("s") != F.col("t"))
        .select("s", "t", week.alias("wk"))
    )
    e_first = ew.groupBy("s", "t").agg(F.min("wk").alias("wk"))
    v_first = (
        ew.select(F.col("s").alias("x"), "wk")
        .unionByName(ew.select(F.col("t").alias("x"), "wk"))
        .groupBy("x")
        .agg(F.min("wk").alias("wk"))
    )
    eh = e_first.groupBy("wk").agg(F.count(F.lit(1)).alias("ne"))
    vh = v_first.groupBy("wk").agg(F.count(F.lit(1)).alias("nv"))
    cur = (
        eh.join(vh, ["wk"], "full")
        .na.fill({"ne": 0, "nv": 0})
    )
    cum = Window.orderBy("wk").rowsBetween(Window.unboundedPreceding, 0)
    curve = cur.select(
        F.col("wk").alias("week"),
        F.sum("nv").over(cum).alias("cum_vertices"),
        F.sum("ne").over(cum).alias("cum_edges"),
    )
    a = (
        F.lit(2000000).cast("long") * F.col("cum_edges")
        + F.col("cum_vertices")
    )
    b = F.lit(2).cast("long") * F.col("cum_vertices")
    return curve.select(
        "week", "cum_vertices", "cum_edges",
        ((a - a % b) / b).cast("long").alias("avgdeg_micro"),
    ).orderBy("week")


SQL_DENSIFICATION = """
WITH base AS (
  SELECT user_id, event_type, ts, event_id, epoch_us(ts) AS us FROM events
), turn AS (
  SELECT event_type AS s,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t,
         lead(us) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS eus
  FROM base
), ew AS (
  SELECT s, t, (eus // 1000000) // 604800 AS wk
  FROM turn WHERE t IS NOT NULL AND s <> t
  UNION ALL
  SELECT 'user:' || CAST(user_id AS VARCHAR) AS s, event_type AS t,
         (us // 1000000) // 604800 AS wk
  FROM base WHERE 'user:' || CAST(user_id AS VARCHAR) <> event_type
), ef AS (
  SELECT s, t, min(wk) AS wk FROM ew GROUP BY s, t
), vf AS (
  SELECT x, min(wk) AS wk FROM (
    SELECT s AS x, wk FROM ew UNION ALL SELECT t AS x, wk FROM ew
  ) GROUP BY x
), eh AS (SELECT wk, count(*) AS ne FROM ef GROUP BY wk),
vh AS (SELECT wk, count(*) AS nv FROM vf GROUP BY wk),
cur AS (
  SELECT coalesce(eh.wk, vh.wk) AS week,
         coalesce(nv, 0) AS nv, coalesce(ne, 0) AS ne
  FROM eh FULL JOIN vh ON vh.wk = eh.wk
), curve AS (
  SELECT week,
         CAST(sum(nv) OVER (ORDER BY week
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_vertices,
         CAST(sum(ne) OVER (ORDER BY week
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_edges
  FROM cur
)
SELECT week, cum_vertices, cum_edges,
       (2000000 * cum_edges + cum_vertices) // (2 * cum_vertices)
         AS avgdeg_micro
FROM curve ORDER BY week
"""


# --------------------------------------------------------------------------
# directed triad census (Holland & Leinhardt; Milo et al. network motifs):
# every triangle of the undirected projection classified by its directed
# pattern — n_recip = number of reciprocal (bidirectional) dyads (0..3);
# for all-one-way triangles the two classic motifs are split out:
# 'cycle' (a->b->c->a, motif 030C) vs 'ffl' (feed-forward a->b, a->c,
# b->c, motif 030T).  Scale shape: identical to the oriented triangle
# 2-join (each dyad keyed low<high so every triangle is produced exactly
# once); the dyad-direction flags ride along the join, and the census is
# a combinable groupBy over <=7 keys — no new shuffle class vs triangles.
# --------------------------------------------------------------------------

def q_triad_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed triad census over the events graph's triangles.  Output
    (n_recip, kind, n_triads) with kind in ('cycle','ffl','mixed')."""
    dk = _directed_simple(spark, sf_dir)
    dy = (
        dk.select(
            F.least("s", "t").alias("u"),
            F.greatest("s", "t").alias("v"),
            (F.col("s") < F.col("t")).cast("int").alias("fw"),
            (F.col("s") > F.col("t")).cast("int").alias("bw"),
        )
        .groupBy("u", "v")
        .agg(F.max("fw").alias("f"), F.max("bw").alias("b"))
    )
    d1 = dy.select(
        F.col("u").alias("x"), F.col("v").alias("y"),
        F.col("f").alias("f1"), F.col("b").alias("b1"),
    )
    d2 = dy.select(
        F.col("u").alias("y"), F.col("v").alias("z"),
        F.col("f").alias("f2"), F.col("b").alias("b2"),
    )
    d3 = dy.select(
        F.col("u").alias("x"), F.col("v").alias("z"),
        F.col("f").alias("f3"), F.col("b").alias("b3"),
    )
    tri = d1.join(d2, "y").join(d3, ["x", "z"]).withColumn(
        "n_recip",
        (F.col("f1") * F.col("b1") + F.col("f2") * F.col("b2")
         + F.col("f3") * F.col("b3")).cast("long"),
    )
    # with n_recip == 0 every dyad is one-way (f == 1-b), so the triad is a
    # 3-cycle iff the low->mid and mid->high arrows agree and the low->high
    # arrow opposes them: (f1,f2,f3) in {(1,1,0),(0,0,1)}.
    kind = (
        F.when(F.col("n_recip") > 0, F.lit("mixed"))
        .when(
            (F.col("f1") == F.col("f2")) & (F.col("f3") != F.col("f1")),
            F.lit("cycle"),
        )
        .otherwise(F.lit("ffl"))
    )
    return (
        tri.groupBy("n_recip", kind.alias("kind"))
        .agg(F.count(F.lit(1)).alias("n_triads"))
    )


SQL_TRIAD_CENSUS = (
    "WITH "
    + _GRAPH_CTES
    + """,
tc_dy AS (
  SELECT least(s, t) AS u, greatest(s, t) AS v,
         max(CASE WHEN s < t THEN 1 ELSE 0 END) AS f,
         max(CASE WHEN s > t THEN 1 ELSE 0 END) AS b
  FROM (SELECT DISTINCT s, t FROM ek WHERE s <> t) GROUP BY 1, 2
), tc_tri AS (
  SELECT d1.f AS f1, d1.b AS b1, d2.f AS f2, d2.b AS b2,
         d3.f AS f3, d3.b AS b3
  FROM tc_dy d1
  JOIN tc_dy d2 ON d2.u = d1.v
  JOIN tc_dy d3 ON d3.u = d1.u AND d3.v = d2.v
)
SELECT CAST(f1*b1 + f2*b2 + f3*b3 AS BIGINT) AS n_recip,
       CASE WHEN f1*b1 + f2*b2 + f3*b3 > 0 THEN 'mixed'
            WHEN f1 = f2 AND f3 <> f1 THEN 'cycle'
            ELSE 'ffl' END AS kind,
       CAST(count(*) AS BIGINT) AS n_triads
FROM tc_tri GROUP BY 1, 2
"""
)


# --------------------------------------------------------------------------
# one-iteration SimRank (Jeh & Widom 2002): with s0 = identity, the first
# iteration collapses to normalized co-citation — s1(a,b) = C * |I(a) n
# I(b)| / (|I(a)| * |I(b)|) over in-neighbor sets I(.).  Scale shape: the
# co-citation pair fan-out is sum_x outdeg(x)^2 (each SOURCE emits its
# out-neighbor pairs), bounded on this graph by the tiny event-type
# alphabet; on a web graph the max_deg parameter carries the same
# out-degree cap jaccard_pairs has.  Counts and degrees stay
# exact integers; the one double (C*inter/(da*db)) is formed with the
# identical op order in both engines, so the top-k cut is bit-stable.
# --------------------------------------------------------------------------

_SIMRANK_C = 0.8
_SIMRANK_TOPK = 20


def q_simrank_pairs(
    spark: SparkSession, sf_dir: str, max_deg: int | None = None
) -> DataFrame:
    """Top-20 vertex pairs by one-iteration SimRank.  Output
    (a, b, n_common_in, in_deg_a, in_deg_b, simrank1).

    ``max_deg``: production hub cap (the jaccard_pairs knob) — sources with
    out-degree > max_deg are excluded from co-citation pair generation,
    bounding the per-source fan-out at cap^2 (in-degrees in the
    denominator always use the FULL graph).  None (the gate default) =
    exact; capped == uncapped whenever max_deg >= the true max out-degree
    (pytest-asserted on the gate fixture)."""
    dk = _directed_simple(spark, sf_dir)
    indeg = dk.groupBy(F.col("t").alias("x")).agg(
        F.count(F.lit(1)).alias("d")
    )
    src_e = dk
    if max_deg is not None:
        ok_src = (
            dk.groupBy("s")
            .agg(F.count(F.lit(1)).alias("od"))
            .where(F.col("od") <= max_deg)
            .select("s")
        )
        src_e = dk.join(ok_src, "s", "semi")
    e1 = src_e.select(F.col("s").alias("src"), F.col("t").alias("a"))
    e2 = src_e.select(F.col("s").alias("src"), F.col("t").alias("b"))
    inter = (
        e1.join(e2, "src")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_common_in"))
    )
    scored = (
        inter
        .join(indeg.select(F.col("x").alias("a"), F.col("d").alias("da")), "a")
        .join(indeg.select(F.col("x").alias("b"), F.col("d").alias("db")), "b")
        .withColumn(
            "score",
            F.lit(_SIMRANK_C) * F.col("n_common_in")
            / (F.col("da") * F.col("db")),
        )
    )
    return (
        scored.orderBy(F.col("score").desc(), "a", "b")
        .limit(_SIMRANK_TOPK)
        .select(
            "a", "b",
            F.col("n_common_in").cast("long").alias("n_common_in"),
            F.col("da").cast("long").alias("in_deg_a"),
            F.col("db").cast("long").alias("in_deg_b"),
            F.round("score", 6).alias("simrank1"),
        )
    )


SQL_SIMRANK_PAIRS = (
    "WITH "
    + _GRAPH_CTES
    + f""",
sr_dk AS (SELECT DISTINCT s, t FROM ek WHERE s <> t),
sr_deg AS (SELECT t AS x, count(*) AS d FROM sr_dk GROUP BY t),
sr_int AS (
  SELECT e1.t AS a, e2.t AS b, count(*) AS n_common_in
  FROM sr_dk e1 JOIN sr_dk e2 ON e2.s = e1.s AND e1.t < e2.t
  GROUP BY 1, 2
)
SELECT a, b, CAST(n_common_in AS BIGINT) AS n_common_in,
       CAST(da.d AS BIGINT) AS in_deg_a, CAST(db.d AS BIGINT) AS in_deg_b,
       round(CAST({_SIMRANK_C!r} AS DOUBLE) * n_common_in / (da.d * db.d), 6)
         AS simrank1
FROM sr_int
JOIN sr_deg da ON da.x = a
JOIN sr_deg db ON db.x = b
ORDER BY CAST({_SIMRANK_C!r} AS DOUBLE) * n_common_in / (da.d * db.d) DESC,
         a, b
LIMIT {_SIMRANK_TOPK}
"""
)


# --------------------------------------------------------------------------
# Frequent event-type trigrams (§2.15 row 230): workflow-pattern mining
# over each user's time-ordered event stream — the agent-telemetry analog
# of frequent tool-call sequences ("search → read → edit").  One window
# shuffle (two stacked lead()s share it), one combinable trigram groupBy,
# one top-k sort of the tiny trigram aggregate.
# --------------------------------------------------------------------------

_SEQ_TOPK = 20


_MARKOV_ROUNDS = 40
_MARKOV_SCALE = 1_000_000


def q_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the conversation-flow Markov chain
    (event-type → event-type transitions under stable (ts, event_id)
    order) by integer-exact power iteration — "where does a session
    spend its time at equilibrium", the chain-level summary of the
    turn-edge graph.

    The transition matrix is quantized once to integer micro-units
    (q_ij = (c_ij·1e6) // rowsum_i) so BOTH engines iterate the SAME
    integer fixed point (same contract as emb_power_iter: max-renorm,
    integer division, no float anywhere in the hash path).  Corpus-sized
    work = the ONE window+groupBy building the k×k transition counts;
    the 40-round recurrence runs on the collected CONSTANT k² matrix
    (k = |event-type vocabulary|, stream-size independent — the
    bounded-collect contract).  Output (event_type, stationary_scaled)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .where(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    rows = pairs.collect()  # bounded: k^2 rows, stream-size independent
    types = sorted({r["src"] for r in rows} | {r["dst"] for r in rows})
    pos = {t: k for k, t in enumerate(types)}
    k = len(types)
    C = [[0] * k for _ in range(k)]
    for r in rows:
        C[pos[r["src"]]][pos[r["dst"]]] = int(r["c"])
    rowsum = [sum(row) for row in C]
    Q = [
        [
            (C[i][j] * _MARKOV_SCALE) // rowsum[i] if rowsum[i] else 0
            for j in range(k)
        ]
        for i in range(k)
    ]
    v = [_MARKOV_SCALE] * k
    for _t in range(_MARKOV_ROUNDS):
        nv = [sum(v[i] * Q[i][j] for i in range(k)) for j in range(k)]
        m = max(nv)
        v = [(x * _MARKOV_SCALE) // m for x in nv]
    out = [(t, int(v[pos[t]])) for t in types]
    return spark.createDataFrame(
        out, "event_type string, stationary_scaled long"
    ).orderBy("event_type")


def _markov_sql(rounds: int) -> str:
    ctes = [
        """mk_pairs AS MATERIALIZED (
  SELECT src, dst, count(*) AS c FROM (
    SELECT event_type AS src,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS dst
    FROM events
  ) WHERE dst IS NOT NULL GROUP BY 1, 2
)""",
        "mk_types AS (SELECT DISTINCT src AS t FROM mk_pairs "
        "UNION SELECT DISTINCT dst FROM mk_pairs)",
        "mk_rowsum AS (SELECT src, CAST(sum(c) AS BIGINT) AS rs "
        "FROM mk_pairs GROUP BY 1)",
        f"mk_q AS MATERIALIZED (SELECT p.src, p.dst, "
        f"CAST((p.c * {_MARKOV_SCALE}) // r.rs AS BIGINT) AS q "
        f"FROM mk_pairs p JOIN mk_rowsum r USING (src))",
        f"mk_u0 AS (SELECT t AS j, CAST({_MARKOV_SCALE} AS BIGINT) AS u "
        f"FROM mk_types)",
    ]
    for t in range(1, rounds + 1):
        ctes.append(
            f"mk_w{t} AS MATERIALIZED (SELECT y.t AS j, "
            f"CAST(coalesce(sum(u.u * q.q), 0) AS BIGINT) AS w "
            f"FROM mk_types y LEFT JOIN mk_q q ON q.dst = y.t "
            f"LEFT JOIN mk_u{t - 1} u ON u.j = q.src GROUP BY y.t)"
        )
        ctes.append(f"mk_m{t} AS (SELECT max(w) AS m FROM mk_w{t})")
        ctes.append(
            f"mk_u{t} AS MATERIALIZED (SELECT j, "
            f"CAST((CAST(w AS HUGEINT) * {_MARKOV_SCALE}) "
            f"// (SELECT m FROM mk_m{t}) AS BIGINT) AS u FROM mk_w{t})"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT j AS event_type, u AS stationary_scaled "
        f"FROM mk_u{rounds} ORDER BY j"
    )


SQL_MARKOV_STATIONARY = _markov_sql(_MARKOV_ROUNDS)


def q_event_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``_SEQ_TOPK`` event-type trigrams across all per-user streams,
    with occurrence count and distinct-user support.  Ordering inside a
    stream is the stable (ts, event_id) key, so both engines see the same
    sequences.  Output (g1, g2, g3, n, n_users)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = (
        e.select(
            "user_id",
            F.col("event_type").alias("g1"),
            F.lead("event_type", 1).over(w).alias("g2"),
            F.lead("event_type", 2).over(w).alias("g3"),
        )
        .where(F.col("g3").isNotNull())
    )
    return (
        tri.groupBy("g1", "g2", "g3")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy(F.desc("n"), "g1", "g2", "g3")
        .limit(_SEQ_TOPK)
    )


SQL_EVENT_TRIGRAMS = f"""
WITH tri AS (
  SELECT user_id,
         event_type AS g1,
         lead(event_type, 1) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS g2,
         lead(event_type, 2) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS g3
  FROM events
)
SELECT g1, g2, g3, CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM tri
WHERE g3 IS NOT NULL
GROUP BY g1, g2, g3
ORDER BY n DESC, g1, g2, g3
LIMIT {_SEQ_TOPK}
"""


# --------------------------------------------------------------------------
# exact joint 1/2-hop reach histogram (§2.15 row 269): distribution of
# (|ball_1(v)|, |ball_2(v)|) — degree and the number of DISTINCT vertices
# within distance <= 2 (self excluded) on the undirected simple events
# graph.  The friend-of-friend expansion feature every recommender /
# influence model keys on, and the exact small-radius companion that
# validates the anf_kmv sketch (ANF's r=1/r=2 estimates should track this
# histogram's mass).  Joint, not marginal: the transcript graph is
# diameter-2-ish (reach2 ~ V-1 for most vertices), so the expansion
# structure lives in how reach2 varies WITH degree.
#
# Scale posture: the 2-hop expansion is ONE self equi-join on the shared
# mid-vertex — fan-out is sum(deg(v)^2), the known hub-sensitive term; the
# max_deg parameter routes the expansion through <=cap-degree mids only
# (fan-out sum(min(deg, cap)^2); beyond the cap production reads the
# anf_kmv sketch instead) while the gate runs the exact
# ball.  Both distincts dedup on (s, t) BEFORE the per-vertex count so
# multiplicity never inflates reach; the final aggregates are map-side-
# combinable hash aggs over vertex-sized data, and the histogram is
# bounded by distinct (reach1, reach2) pairs, never V.
# --------------------------------------------------------------------------

def q_reach2_hist(
    spark: SparkSession, sf_dir: str, max_deg: int | None = None
) -> DataFrame:
    """Joint histogram (reach1, reach2, n_vertices) of exact 1-hop degree
    and 2-hop ball size.

    ``max_deg``: production hub cap (same knob as linkpred.jaccard_pairs) —
    the 2-hop expansion only routes through MID vertices with degree <=
    max_deg, bounding the self-join fan-out at sum(min(deg, cap)^2) instead
    of sum(deg^2).  reach2 then counts the ball reachable through
    low-degree intermediaries (a documented lower bound; beyond the cap
    production reads the anf_kmv sketch instead).  None (the gate default)
    = exact.  Capped == uncapped whenever max_deg >= the true max degree
    (pytest-asserted on the gate fixture)."""
    dk = _directed_simple(spark, sf_dir)
    und = (
        dk.select("s", "t")
        .unionByName(dk.select(F.col("t").alias("s"), F.col("s").alias("t")))
        .distinct()
    )
    r1 = und.groupBy("s").agg(F.count(F.lit(1)).alias("reach1"))
    thru = und
    if max_deg is not None:
        # keep only wedge legs whose mid vertex (a.t == b.s) is low-degree;
        # filtering the a-side target suffices since b.s is the same vertex
        ok_mid = r1.where(F.col("reach1") <= max_deg).select(
            F.col("s").alias("t")
        )
        thru = und.join(ok_mid, "t", "semi")
    hop2 = (
        thru.alias("a")
        .join(und.alias("b"), F.col("a.t") == F.col("b.s"))
        .select(F.col("a.s").alias("s"), F.col("b.t").alias("t"))
        .where(F.col("s") != F.col("t"))
    )
    ball = und.unionByName(hop2).distinct()
    r2 = ball.groupBy("s").agg(F.count(F.lit(1)).alias("reach2"))
    return (
        r1.join(r2, "s")
        .groupBy("reach1", "reach2")
        .agg(F.count(F.lit(1)).alias("n_vertices"))
        .select(
            F.col("reach1").cast("long").alias("reach1"),
            F.col("reach2").cast("long").alias("reach2"),
            F.col("n_vertices").cast("long").alias("n_vertices"),
        )
    )


SQL_REACH2_HIST = (
    "WITH "
    + _GRAPH_CTES
    + """,
dk AS (SELECT DISTINCT s, t FROM ek WHERE s <> t),
und AS (SELECT DISTINCT s, t FROM
        (SELECT s, t FROM dk UNION ALL SELECT t AS s, s AS t FROM dk)),
hop2 AS (SELECT DISTINCT a.s, b.t
         FROM und a JOIN und b ON a.t = b.s WHERE a.s <> b.t),
r1 AS (SELECT s, CAST(count(*) AS BIGINT) AS reach1 FROM und GROUP BY s),
ball AS (SELECT DISTINCT s, t FROM
         (SELECT s, t FROM und UNION ALL SELECT s, t FROM hop2)),
r2 AS (SELECT s, CAST(count(*) AS BIGINT) AS reach2 FROM ball GROUP BY s)
SELECT reach1, reach2, CAST(count(*) AS BIGINT) AS n_vertices
FROM r1 JOIN r2 USING (s) GROUP BY reach1, reach2
"""
)


# --------------------------------------------------------------------------
# Markov next-event prediction accuracy (§2.15 row 274): train the
# first-order transition predictor on the PRE-split transitions (source
# day < 16), predict argmax-next per event type (count DESC, type ASC
# tiebreak), and score top-1 hit rate on the POST-split transitions — the
# temporal train/test evaluation loop every sequence model ships with,
# run entirely in the engine.  Complements markov_stationary (equilibrium
# of the same chain) with out-of-sample predictive quality.
#
# Scale posture: transitions = ONE window pass (the turn-edge shuffle);
# train counts are a combinable k² aggregate; the argmax is a window over
# the k²-row AGGREGATE, never the stream; scoring is a broadcast-sized
# join (k rows) onto the test transitions + one combinable rollup.
# Accuracy ships as exact int64 micro-units.
# --------------------------------------------------------------------------

_MARKOV_SPLIT_DAY = 16


def q_markov_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per source event type: (src, pred, train_c, n_test, n_hit,
    acc_micro) — the trained argmax successor and its out-of-sample
    top-1 accuracy."""
    from .webpipe import _micro_ratio

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = e.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
        F.dayofmonth("ts").alias("d_src"),
    ).where(F.col("dst").isNotNull())
    train = (
        pairs.where(F.col("d_src") < _MARKOV_SPLIT_DAY)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wr = Window.partitionBy("src").orderBy(F.col("c").desc(), F.col("dst"))
    pred = (
        train.withColumn("rk", F.row_number().over(wr))
        .where(F.col("rk") == 1)
        .select("src", F.col("dst").alias("pred"), F.col("c").alias("train_c"))
    )
    test = pairs.where(F.col("d_src") >= _MARKOV_SPLIT_DAY)
    per = (
        test.join(F.broadcast(pred), "src")
        .groupBy("src")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum(F.when(F.col("dst") == F.col("pred"), 1).otherwise(0))
            .cast("long")
            .alias("n_hit"),
        )
    )
    return per.join(F.broadcast(pred), "src").select(
        "src",
        "pred",
        "train_c",
        "n_test",
        "n_hit",
        _micro_ratio(F.col("n_hit"), F.col("n_test")).alias("acc_micro"),
    )


SQL_MARKOV_ACCURACY = f"""
WITH pairs AS (
  SELECT event_type AS src,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS dst,
         day(ts) AS d_src
  FROM events
), p2 AS (
  SELECT * FROM pairs WHERE dst IS NOT NULL
), train AS (
  SELECT src, dst, CAST(count(*) AS BIGINT) AS c
  FROM p2 WHERE d_src < {_MARKOV_SPLIT_DAY} GROUP BY src, dst
), pred AS (
  SELECT src, dst AS pred, c AS train_c FROM (
    SELECT src, dst, c,
           row_number() OVER (PARTITION BY src ORDER BY c DESC, dst) AS rk
    FROM train) WHERE rk = 1
), test AS (
  SELECT src, dst FROM p2 WHERE d_src >= {_MARKOV_SPLIT_DAY}
), per AS (
  SELECT t.src, CAST(count(*) AS BIGINT) AS n_test,
         CAST(sum(CASE WHEN t.dst = p.pred THEN 1 ELSE 0 END) AS BIGINT)
           AS n_hit
  FROM test t JOIN pred p USING (src) GROUP BY t.src
)
SELECT src, pred, train_c, n_test, n_hit,
       (2000000 * n_hit + n_test) // (2 * n_test) AS acc_micro
FROM per JOIN pred USING (src)
"""


# --------------------------------------------------------------------------
# DOULION sampled triangle estimate (§2.15 row 271): keep each undirected
# simple edge with probability p = 1/2 via a DETERMINISTIC md5 coin
# (md5(u|v) even), count triangles exactly on the sparsified graph, and
# scale by 1/p^3 = 8 — Tsourakakis et al.'s DOULION (KDD'09, public),
# the sublinear companion to the exact triangle_count row.  Both counts
# ride in the output so the gate checks the estimator AND its input.
#
# Scale posture: sparsification is a pure column predicate fused into the
# edge scan — at p=1/2 the 2-join's wedge fan-out (the Σdeg² term that
# dominates exact counting at web scale) drops ~4x before any shuffle;
# the md5 coin makes the sample reproducible across engines and runs (no
# rand()), and 1/p^3 = 8 keeps the estimator exact-integer — no float in
# the gate hash.
# --------------------------------------------------------------------------

def q_triangle_doulion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: (n_edges, n_kept, tri_sampled, tri_est) on the undirected
    simple events graph; tri_est = 8 * tri_sampled."""
    from .datapipe import _md5_int

    dk = _directed_simple(spark, sf_dir)
    und = dk.select(
        F.least("s", "t").alias("u"), F.greatest("s", "t").alias("v")
    ).distinct()
    kept = und.where(
        _md5_int(F.concat_ws("|", F.col("u"), F.col("v"))) % 2 == 0
    )
    e1, e2, e3 = kept.alias("e1"), kept.alias("e2"), kept.alias("e3")
    wedges = e1.join(
        e2, (F.col("e1.u") == F.col("e2.u")) & (F.col("e2.v") > F.col("e1.v"))
    )
    tris = wedges.join(
        e3, (F.col("e3.u") == F.col("e1.v")) & (F.col("e3.v") == F.col("e2.v"))
    )
    n_edges = und.agg(F.count(F.lit(1)).alias("n_edges"))
    n_kept = kept.agg(F.count(F.lit(1)).alias("n_kept"))
    t = tris.agg(F.count(F.lit(1)).alias("tri_sampled"))
    return (
        n_edges.crossJoin(F.broadcast(n_kept))
        .crossJoin(F.broadcast(t))
        .select(
            "n_edges",
            "n_kept",
            "tri_sampled",
            (F.col("tri_sampled") * F.lit(8)).cast("long").alias("tri_est"),
        )
    )


SQL_TRIANGLE_DOULION = (
    "WITH "
    + _GRAPH_CTES
    + """,
dk AS (SELECT DISTINCT s, t FROM ek WHERE s <> t),
und AS (SELECT DISTINCT least(s, t) AS u, greatest(s, t) AS v FROM dk),
kept AS (SELECT u, v FROM und
         WHERE CAST(('0x' || substr(md5(u || '|' || v), 1, 15)) AS BIGINT)
               % 2 = 0),
tri AS (SELECT CAST(count(*) AS BIGINT) AS tri_sampled
        FROM kept e1
        JOIN kept e2 ON e2.u = e1.u AND e2.v > e1.v
        JOIN kept e3 ON e3.u = e1.v AND e3.v = e2.v)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM und) AS n_edges,
       (SELECT CAST(count(*) AS BIGINT) FROM kept) AS n_kept,
       tri_sampled,
       tri_sampled * 8 AS tri_est
FROM tri
"""
)


def registry():
    return {
        "densest_subgraph": (q_densest_subgraph, SQL_DENSEST_SUBGRAPH),
        "event_trigrams": (q_event_trigrams, SQL_EVENT_TRIGRAMS),
        "markov_stationary": (q_markov_stationary, SQL_MARKOV_STATIONARY),
        "engine_matching": (q_engine_matching, SQL_ENGINE_MATCHING),
        "percolation_giant": (q_percolation_giant, SQL_PERCOLATION_GIANT),
        "attack_tolerance": (q_attack_tolerance, SQL_ATTACK_TOLERANCE),
        "reach2_hist": (q_reach2_hist, SQL_REACH2_HIST),
        "triangle_doulion": (q_triangle_doulion, SQL_TRIANGLE_DOULION),
        "markov_accuracy": (q_markov_accuracy, SQL_MARKOV_ACCURACY),
        "vertex_cover": (q_vertex_cover, SQL_VERTEX_COVER),
        "edge_churn": (q_edge_churn, SQL_EDGE_CHURN),
        "decayed_pagerank": (q_decayed_pagerank, SQL_DECAYED_PAGERANK),
        "rich_club": (q_rich_club, SQL_RICH_CLUB),
        "community_conductance": (
            q_community_conductance,
            SQL_COMMUNITY_CONDUCTANCE,
        ),
        "graph_reciprocity": (q_graph_reciprocity, SQL_GRAPH_RECIPROCITY),
        "degree_gini": (q_degree_gini, SQL_DEGREE_GINI),
        "type_mixing": (q_type_mixing, SQL_TYPE_MIXING),
        "betweenness_pivots": (q_betweenness, SQL_BETWEENNESS),
        "bridge_edges": (q_bridge_edges, SQL_BRIDGE_EDGES),
        "transitivity": (q_transitivity, SQL_TRANSITIVITY),
        "degree_assortativity": (q_degree_assortativity, SQL_DEGREE_ASSORTATIVITY),
        "degree_connectivity": (q_degree_connectivity, SQL_DEGREE_CONNECTIVITY),
        "transition_entropy": (q_transition_entropy, SQL_TRANSITION_ENTROPY),
        "engine_diameter2sweep": (q_engine_diameter2sweep, SQL_ENGINE_DIAMETER2SWEEP),
        "anf_kmv": (q_anf_kmv, SQL_ANF_KMV),
        "ktruss_edges": (q_ktruss, SQL_KTRUSS),
        "engine_msf": (q_engine_msf, SQL_ENGINE_MSF),
        "feature_prop": (q_feature_prop, SQL_FEATURE_PROP),
        "partition_cut": (q_partition_cut, SQL_PARTITION_CUT),
        "louvain_sync": (q_louvain, SQL_LOUVAIN),
        "label_spread": (q_label_spread, SQL_LABEL_SPREAD),
        "engine_coloring": (q_engine_coloring, SQL_ENGINE_COLORING),
        "engine_mis": (q_engine_mis, SQL_ENGINE_MIS),
        "wl_refine": (q_wl_refine, SQL_WL_REFINE),
        "rectangles": (q_rectangles, SQL_RECTANGLES),
        "cliques4": (q_cliques4, SQL_CLIQUES4),
        "hitting_prob": (q_hitting_prob, SQL_HITTING_PROB),
        "dag_levels": (q_dag_levels, SQL_DAG_LEVELS),
        "triangle_communities": (q_triangle_communities, SQL_TRIANGLE_COMMUNITIES),
        "rank_stability": (q_rank_stability, SQL_RANK_STABILITY),
        "powerlaw_alpha": (q_powerlaw_alpha, SQL_POWERLAW_ALPHA),
        "edge_embeddedness": (q_edge_embeddedness, SQL_EDGE_EMBEDDEDNESS),
        "densification_curve": (q_densification, SQL_DENSIFICATION),
        "triad_census": (q_triad_census, SQL_TRIAD_CENSUS),
        "simrank_pairs": (q_simrank_pairs, SQL_SIMRANK_PAIRS),
    }
