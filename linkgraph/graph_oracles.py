"""DuckDB oracle SQL for the FIXED-ITERATION graph queries (SURVEY.md §5.5).

A fixed-k PageRank / label-propagation run is SQL-expressible by unrolling k
iterations as chained CTEs over the events-derived edge table; that turns the
driver's rows-only gate rows (``pagerank_top10``, ``engine_pagerank``,
``engine_labelprop``) into full rows+schema+hash checks (VERDICT r01 item 1).

The generators below emit ANSI SQL that DuckDB runs directly on the
pre-registered ``events`` view.  Semantics mirrored exactly:

- graph: consecutive-event edges ``event_type(i) -> event_type(i+1)`` per
  user (stable order ts, event_id) plus ``user:<id> -> event_type``
  invocation edges; w = multiplicity (flagship.events_graph).
- vids: dense, assigned by sorted vkey (``row_number() OVER (ORDER BY vkey)
  - 1``).  The engine's vids equal this SQL by construction:
  ``derive.dense_ids`` (behind ``derive.key_graph``) computes exactly that
  window's ids with a range-partitioned sort.
- PageRank: r_t(v) = (1-d)/n + d*(sum_{u->v} r_{t-1}(u)*w/out_w(u)
  + dangling_mass_{t-1}/n); float64; matches the CSR engine
  (pregel.PageRankProgram) exactly.
- LPA: synchronous, new label = most frequent neighbour label over the
  undirected simple graph, ties -> min label, isolated vertices keep theirs;
  labels live in vkey space (min vid == min vkey under sorted assignment).

Ranks are rounded to 6 decimals ON BOTH SIDES and top-k ordering uses the
rounded value, so double summation-order noise (~1e-15 relative after 5
iterations) cannot flip the hash or the k-boundary.
"""

from __future__ import annotations

# Edge derivation + vertex numbering shared by all three oracles.  Matches
# flagship.events_graph + relational._EVENTS_EDGE_SQL.
_GRAPH_CTES = """
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
), e AS (
  SELECT s, t, CAST(count(*) AS DOUBLE) AS w FROM ek GROUP BY s, t
), v AS (
  SELECT vkey, CAST(row_number() OVER (ORDER BY vkey) - 1 AS BIGINT) AS vid
  FROM (SELECT DISTINCT vkey
        FROM (SELECT s AS vkey FROM ek UNION ALL SELECT t AS vkey FROM ek))
), nn AS (
  SELECT CAST(count(*) AS DOUBLE) AS n FROM v
)"""


def pagerank_unroll_ctes(k: int, d: float, graph_ctes: str) -> list[str]:
    """The k-superstep weighted-PageRank CTE chain over ANY graph CTE block
    that defines ``e(s, t, w)``, ``v(vkey, vid)`` and ``nn(n)`` — shared by
    the events-graph oracles here and the host-co-citation-graph oracle
    (webpipe.host_pagerank_sql)."""
    ctes = [
        graph_ctes,
        "outw AS (SELECT s, sum(w) AS out_w FROM e GROUP BY s)",
        "coeff AS (SELECT e.s, e.t, e.w / o.out_w AS c FROM e JOIN outw o USING (s))",
        # dangling = no out-edges (out_deg == 0)
        "dang AS (SELECT v.vkey FROM v LEFT JOIN outw o ON o.s = v.vkey WHERE o.s IS NULL)",
        "r0 AS (SELECT vkey, 1.0 / (SELECT n FROM nn) AS r FROM v)",
    ]
    for i in range(1, k + 1):
        p = f"r{i - 1}"
        ctes.append(
            f"d{i} AS (SELECT coalesce(sum(r.r), 0.0) AS dm FROM {p} r JOIN dang USING (vkey))"
        )
        ctes.append(
            f"m{i} AS (SELECT c.t AS vkey, sum(p.r * c.c) AS ms "
            f"FROM coeff c JOIN {p} p ON p.vkey = c.s GROUP BY c.t)"
        )
        # CAST the damping literals to DOUBLE so DuckDB's decimal arithmetic
        # cannot diverge (bit-for-bit the same (1-d) as Python's float math).
        dd = f"CAST({d!r} AS DOUBLE)"
        ctes.append(
            f"r{i} AS (SELECT v.vkey, (CAST(1.0 AS DOUBLE) - {dd}) / (SELECT n FROM nn) "
            f"+ {dd} * (coalesce(m.ms, 0.0) + (SELECT dm FROM d{i}) / (SELECT n FROM nn)) AS r "
            f"FROM v LEFT JOIN m{i} m USING (vkey))"
        )
    return ctes


def pagerank_fixed_sql(k: int, limit: int, d: float = 0.85, with_vid: bool = False) -> str:
    """Unrolled k-superstep weighted PageRank over the events graph,
    top-``limit`` by rounded rank."""
    ctes = pagerank_unroll_ctes(k, d, _GRAPH_CTES)
    if with_vid:
        select = (
            "SELECT v.vid, v.vkey, "
            "CASE WHEN v.vkey LIKE 'user:%' THEN 'actor' ELSE 'tool' END AS vtype, "
            "round(r.r, 6) AS rank"
        )
        order = "ORDER BY round(r.r, 6) DESC, v.vid"
    else:
        select = "SELECT v.vkey, round(r.r, 6) AS rank"
        order = "ORDER BY round(r.r, 6) DESC, v.vkey"
    return (
        "WITH " + ",\n".join(ctes)
        + f"\n{select}\nFROM r{k} r JOIN v USING (vkey)\n{order}\nLIMIT {limit}"
    )


def _labelprop_ctes(k: int) -> list[str]:
    """Shared CTE chain for the k-superstep synchronous LPA oracle: defines
    ``und(a, b)`` (undirected simple adjacency, both directions) and the
    final label table ``l{k}(vkey, lbl)`` — used by labelprop_fixed_sql and
    modularity_fixed_sql."""
    ctes = [
        _GRAPH_CTES,
        # undirected simple adjacency (both directions, self-loops dropped)
        "und AS (SELECT DISTINCT a, b FROM ("
        "SELECT s AS a, t AS b FROM ek WHERE s <> t "
        "UNION ALL SELECT t AS a, s AS b FROM ek WHERE s <> t))",
        "l0 AS (SELECT vkey, vkey AS lbl FROM v)",
    ]
    for i in range(1, k + 1):
        p = f"l{i - 1}"
        ctes.append(
            f"c{i} AS (SELECT u.a AS vkey, p.lbl, count(*) AS c "
            f"FROM und u JOIN {p} p ON p.vkey = u.b GROUP BY u.a, p.lbl)"
        )
        ctes.append(
            f"b{i} AS (SELECT vkey, lbl FROM ("
            f"SELECT vkey, lbl, row_number() OVER (PARTITION BY vkey ORDER BY c DESC, lbl) AS rn "
            f"FROM c{i}) WHERE rn = 1)"
        )
        ctes.append(
            f"l{i} AS (SELECT p.vkey, coalesce(b.lbl, p.lbl) AS lbl "
            f"FROM {p} p LEFT JOIN b{i} b USING (vkey))"
        )
    return ctes


def labelprop_fixed_sql(k: int) -> str:
    """Unrolled k-superstep synchronous LPA over the undirected simple graph;
    output (vkey, label_key) in vkey space."""
    return (
        "WITH " + ",\n".join(_labelprop_ctes(k))
        + f"\nSELECT vkey, lbl AS label_key FROM l{k}"
    )


def modularity_fixed_sql(k: int) -> str:
    """Newman modularity of the k-superstep LPA partition over the
    undirected simple events graph, one row per community:
    q_contrib_c = in_c/m2 − (d_c/m2)² with m2 = |directed adjacency| = 2m,
    in_c = ordered internal pairs, d_c = Σ deg(v) — mirrors
    graphstats.q_modularity (engine LPA labels + pure-Catalyst agg)."""
    ctes = _labelprop_ctes(k) + [
        "m2 AS (SELECT CAST(count(*) AS DOUBLE) AS m2 FROM und)",
        "degv AS (SELECT a AS vkey, count(*) AS deg FROM und GROUP BY a)",
        f"lab AS (SELECT vkey, lbl FROM l{k})",
        "intra AS (SELECT la.lbl, count(*) AS internal_pairs "
        "FROM und u JOIN lab la ON la.vkey = u.a "
        "JOIN lab lb ON lb.vkey = u.b AND lb.lbl = la.lbl GROUP BY la.lbl)",
        "comm AS (SELECT lbl, count(*) AS n_vertices, "
        "CAST(sum(coalesce(d.deg, 0)) AS BIGINT) AS deg_sum "
        "FROM lab LEFT JOIN degv d USING (vkey) GROUP BY lbl)",
    ]
    return (
        "WITH " + ",\n".join(ctes)
        + """
SELECT c.lbl AS label_key, c.n_vertices,
       coalesce(i.internal_pairs, 0) AS internal_pairs, c.deg_sum,
       round(coalesce(i.internal_pairs, 0) / m2.m2
             - (c.deg_sum / m2.m2) * (c.deg_sum / m2.m2), 6) AS q_contrib
FROM comm c LEFT JOIN intra i USING (lbl), m2
ORDER BY c.lbl
"""
    )


def eigenvector_fixed_sql(k: int, limit: int) -> str:
    """Unrolled k-step truncated power iteration x_{t+1} = W^T x_t, x_0 = 1,
    over the directed weighted events edges, L1-normalized ONCE at the end;
    top-``limit`` by rounded value — mirrors pregel.EigenvectorProgram with
    fixed_iters=k + the caller's final normalization."""
    ctes = [
        _GRAPH_CTES,
        "x0 AS (SELECT vkey, CAST(1.0 AS DOUBLE) AS x FROM v)",
    ]
    for i in range(1, k + 1):
        p = f"x{i - 1}"
        ctes.append(
            f"em{i} AS (SELECT e.t AS vkey, sum(p.x * e.w) AS ms "
            f"FROM e JOIN {p} p ON p.vkey = e.s GROUP BY e.t)"
        )
        ctes.append(
            f"x{i} AS (SELECT v.vkey, coalesce(m.ms, 0) + 0.0 AS x "
            f"FROM v LEFT JOIN em{i} m ON m.vkey = v.vkey)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f""",
tot AS (SELECT sum(x) AS t FROM x{k})
SELECT vkey, round(x / tot.t, 6) + 0.0 AS eig FROM x{k}, tot
ORDER BY round(x / tot.t, 6) DESC, vkey LIMIT {limit}
"""
    )


def bfs_fixed_sql(k: int) -> str:
    """Unrolled k-superstep multi-source-capable BFS (source = min vkey) over
    the undirected simple events graph; output (vkey, dist) for reached
    vertices — mirrors pregel.BFSProgram run with fixed_iters=k."""
    ctes = [
        _GRAPH_CTES,
        "und AS (SELECT DISTINCT a, b FROM ("
        "SELECT s AS a, t AS b FROM ek WHERE s <> t "
        "UNION ALL SELECT t AS a, s AS b FROM ek WHERE s <> t))",
        "d0 AS (SELECT vkey, CASE WHEN vkey = (SELECT min(vkey) FROM v) "
        "THEN 0 ELSE NULL END AS dist FROM v)",
    ]
    for i in range(1, k + 1):
        p = f"d{i - 1}"
        ctes.append(
            f"m{i} AS (SELECT u.a AS vkey, min(p.dist) + 1 AS nd "
            f"FROM und u JOIN {p} p ON p.vkey = u.b "
            f"WHERE p.dist IS NOT NULL GROUP BY u.a)"
        )
        ctes.append(
            f"d{i} AS (SELECT p.vkey, CASE "
            f"WHEN p.dist IS NULL THEN m.nd "
            f"WHEN m.nd IS NULL THEN p.dist "
            f"ELSE least(p.dist, m.nd) END AS dist "
            f"FROM {p} p LEFT JOIN m{i} m USING (vkey))"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT vkey, CAST(dist AS BIGINT) AS dist FROM d{k} WHERE dist IS NOT NULL"
    )


def msbfs_fixed_sql(k: int, n_seeds: int) -> str:
    """Unrolled k-superstep MULTI-source BFS (seeds = the ``n_seeds``
    lowest vkeys, all at distance 0) over the undirected simple events
    graph — mirrors pregel.BFSProgram run with a multi-row source frame:
    dist(v) = hops to the NEAREST seed (closest-facility assignment)."""
    ctes = [
        _GRAPH_CTES,
        "und AS (SELECT DISTINCT a, b FROM ("
        "SELECT s AS a, t AS b FROM ek WHERE s <> t "
        "UNION ALL SELECT t AS a, s AS b FROM ek WHERE s <> t))",
        f"seeds AS (SELECT vkey FROM v ORDER BY vkey LIMIT {n_seeds})",
        "d0 AS (SELECT v.vkey, CASE WHEN s.vkey IS NOT NULL "
        "THEN 0 ELSE NULL END AS dist "
        "FROM v LEFT JOIN seeds s USING (vkey))",
    ]
    for i in range(1, k + 1):
        p = f"d{i - 1}"
        ctes.append(
            f"m{i} AS (SELECT u.a AS vkey, min(p.dist) + 1 AS nd "
            f"FROM und u JOIN {p} p ON p.vkey = u.b "
            f"WHERE p.dist IS NOT NULL GROUP BY u.a)"
        )
        ctes.append(
            f"d{i} AS (SELECT p.vkey, CASE "
            f"WHEN p.dist IS NULL THEN m.nd "
            f"WHEN m.nd IS NULL THEN p.dist "
            f"ELSE least(p.dist, m.nd) END AS dist "
            f"FROM {p} p LEFT JOIN m{i} m USING (vkey))"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT vkey, CAST(dist AS BIGINT) AS dist FROM d{k} WHERE dist IS NOT NULL"
    )


def _bfs_unroll_ctes(tag: str, seeds_cte: str, k: int) -> list[str]:
    """k-superstep BFS CTE chain seeded from ``seeds_cte`` (a 1-column
    vkey CTE); requires ``und(a, b)`` and ``v(vkey, vid)`` in scope.
    Final distances land in ``d{tag}{k}``."""
    ctes = [
        f"d{tag}0 AS (SELECT v.vkey, CASE WHEN s.vkey IS NOT NULL "
        f"THEN 0 ELSE NULL END AS dist "
        f"FROM v LEFT JOIN {seeds_cte} s USING (vkey))",
    ]
    for i in range(1, k + 1):
        p = f"d{tag}{i - 1}"
        ctes.append(
            f"m{tag}{i} AS (SELECT u.a AS vkey, min(p.dist) + 1 AS nd "
            f"FROM und u JOIN {p} p ON p.vkey = u.b "
            f"WHERE p.dist IS NOT NULL GROUP BY u.a)"
        )
        ctes.append(
            f"d{tag}{i} AS (SELECT p.vkey, CASE "
            f"WHEN p.dist IS NULL THEN m.nd "
            f"WHEN m.nd IS NULL THEN p.dist "
            f"ELSE least(p.dist, m.nd) END AS dist "
            f"FROM {p} p LEFT JOIN m{tag}{i} m USING (vkey))"
        )
    return ctes


def kcenter_fixed_sql(k_steps: int, n_centers: int) -> str:
    """Gonzalez farthest-first k-center oracle: center 1 = min vkey; each
    next center = the max-finite-distance vertex (ties -> min vkey) of a
    fresh ``k_steps``-superstep multi-source BFS from the centers so far;
    output = final closest-center distances with an is_center flag."""
    ctes = [
        _GRAPH_CTES,
        "und AS (SELECT DISTINCT a, b FROM ("
        "SELECT s AS a, t AS b FROM ek WHERE s <> t "
        "UNION ALL SELECT t AS a, s AS b FROM ek WHERE s <> t))",
        "c1 AS (SELECT min(vkey) AS vkey FROM v)",
    ]
    seeds = "c1"
    for c in range(2, n_centers + 1):
        tag = f"r{c - 1}"
        ctes += _bfs_unroll_ctes(tag, seeds, k_steps)
        ctes.append(
            f"p{c} AS (SELECT vkey FROM d{tag}{k_steps} "
            f"WHERE dist IS NOT NULL ORDER BY dist DESC, vkey LIMIT 1)"
        )
        ctes.append(
            f"c{c} AS (SELECT vkey FROM {seeds} "
            f"UNION ALL SELECT vkey FROM p{c})"
        )
        seeds = f"c{c}"
    ctes += _bfs_unroll_ctes("fin", seeds, k_steps)
    sql = "WITH " + ",\n".join(ctes)
    # DuckDB re-expands plain CTEs at every reference; n_centers unrolled
    # BFS chains each referencing `und` would re-open the events parquet
    # per level and trip the fd limit (same fix as graphstats' 2-sweep).
    for name in ("base", "ek", "v", "und"):
        sql = sql.replace(f"{name} AS (", f"{name} AS MATERIALIZED (", 1)
    for c in range(2, 100):
        if f"p{c} AS (" not in sql:
            break
        sql = sql.replace(f"p{c} AS (", f"p{c} AS MATERIALIZED (", 1)
    return (
        sql
        + f"""
SELECT d.vkey, CAST(d.dist AS BIGINT) AS dist,
       CAST(CASE WHEN s.vkey IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
         AS is_center
FROM dfin{k_steps} d LEFT JOIN {seeds} s USING (vkey)
WHERE d.dist IS NOT NULL"""
    )


def ltcascade_fixed_sql(k: int, n_seeds: int) -> str:
    """Unrolled k-superstep linear-threshold cascade over the UNDIRECTED
    simple events graph (unit weights): seeds = the ``n_seeds``
    lexicographically-smallest vkeys active at round 0; an inactive vertex
    activates at superstep i when its count of neighbors active by i-1
    reaches its threshold
    theta(v) = 1 + (md5int(vkey) % max(1, deg(v) // 2)) (never activates
    if deg = 0).
    Mirrors pregel.LTCascadeProgram with fixed_iters=k; all-int64, so the
    hash comparison is exact."""
    ctes = [
        _GRAPH_CTES,
        "und AS (SELECT DISTINCT a, b FROM ("
        "SELECT s AS a, t AS b FROM ek WHERE s <> t "
        "UNION ALL SELECT t AS a, s AS b FROM ek WHERE s <> t))",
        "degv AS (SELECT a AS vkey, CAST(count(*) AS BIGINT) AS deg "
        "FROM und GROUP BY a)",
        "th AS (SELECT v.vkey, CASE WHEN d.deg > 0 THEN 1 + "
        "(CAST(('0x' || substr(md5(v.vkey), 1, 15)) AS BIGINT) "
        "% greatest(1, d.deg // 2)) "
        "ELSE NULL END AS theta FROM v LEFT JOIN degv d USING (vkey))",
        f"s0 AS (SELECT vkey FROM v ORDER BY vkey LIMIT {n_seeds})",
        "a0 AS (SELECT v.vkey, CASE WHEN s.vkey IS NOT NULL THEN 0 END AS rnd, "
        "CAST(0 AS BIGINT) AS infl FROM v LEFT JOIN s0 s USING (vkey))",
    ]
    for i in range(1, k + 1):
        p = f"a{i - 1}"
        ctes.append(
            f"m{i} AS (SELECT u.a AS vkey, CAST(count(*) AS BIGINT) AS ms "
            f"FROM und u JOIN {p} p ON p.vkey = u.b "
            f"WHERE p.rnd = {i - 1} GROUP BY u.a)"
        )
        ctes.append(
            f"a{i} AS (SELECT p.vkey, CASE "
            f"WHEN p.rnd IS NOT NULL THEN p.rnd "
            f"WHEN p.infl + coalesce(m.ms, 0) >= t.theta THEN {i} END AS rnd, "
            f"p.infl + coalesce(m.ms, 0) AS infl "
            f"FROM {p} p LEFT JOIN m{i} m USING (vkey) JOIN th t USING (vkey))"
        )
    sql = "WITH " + ",\n".join(ctes)
    # k unrolled levels each referencing `und`/`th` — materialize so DuckDB
    # does not re-open the events parquet per level (fd limit, same fix as
    # kcenter_fixed_sql).
    for name in ("base", "ek", "v", "und", "th"):
        sql = sql.replace(f"{name} AS (", f"{name} AS MATERIALIZED (", 1)
    return (
        sql
        + f"""
SELECT a.vkey, CAST(a.rnd AS BIGINT) AS rnd, CAST(a.infl AS BIGINT) AS infl
FROM a{k} a WHERE a.rnd IS NOT NULL"""
    )


def sssp_fixed_sql(k: int) -> str:
    """Unrolled k-superstep Bellman-Ford (source = min vkey) over the
    DIRECTED weighted events edges (w = multiplicity); output
    (vkey, dist) for reached vertices — mirrors pregel.SSSPProgram with
    fixed_iters=k.  Each path cost is the same IEEE add chain on both
    engines, so the values are bitwise comparable (rounded anyway)."""
    ctes = [
        _GRAPH_CTES,
        "d0 AS (SELECT vkey, CASE WHEN vkey = (SELECT min(vkey) FROM v) "
        "THEN CAST(0.0 AS DOUBLE) ELSE NULL END AS dist FROM v)",
    ]
    for i in range(1, k + 1):
        p = f"d{i - 1}"
        ctes.append(
            f"m{i} AS (SELECT e.t AS vkey, min(p.dist + e.w) AS nd "
            f"FROM e JOIN {p} p ON p.vkey = e.s "
            f"WHERE p.dist IS NOT NULL GROUP BY e.t)"
        )
        ctes.append(
            f"d{i} AS (SELECT p.vkey, CASE "
            f"WHEN p.dist IS NULL THEN m.nd "
            f"WHEN m.nd IS NULL THEN p.dist "
            f"ELSE least(p.dist, m.nd) END AS dist "
            f"FROM {p} p LEFT JOIN m{i} m USING (vkey))"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT vkey, round(dist, 6) AS dist FROM d{k} WHERE dist IS NOT NULL"
    )


def widest_fixed_sql(k: int) -> str:
    """Unrolled k-superstep widest-path (max-bottleneck) from the min-vkey
    source over the DIRECTED weighted events edges (w = multiplicity);
    output (vkey, cap) for reached non-source vertices — mirrors
    pregel.WidestPathProgram with fixed_iters=k.  min/max never create new
    floats, so every capacity is one of the original integer edge weights
    and the hash compare is exact by construction."""
    ctes = [
        _GRAPH_CTES,
        "w0 AS (SELECT vkey, CASE WHEN vkey = (SELECT min(vkey) FROM v) "
        "THEN CAST('infinity' AS DOUBLE) ELSE NULL END AS cap FROM v)",
    ]
    for i in range(1, k + 1):
        p = f"w{i - 1}"
        ctes.append(
            f"m{i} AS (SELECT e.t AS vkey, max(least(p.cap, e.w)) AS nc "
            f"FROM e JOIN {p} p ON p.vkey = e.s "
            f"WHERE p.cap IS NOT NULL GROUP BY e.t)"
        )
        ctes.append(
            f"w{i} AS (SELECT p.vkey, CASE "
            f"WHEN p.cap IS NULL THEN m.nc "
            f"WHEN m.nc IS NULL THEN p.cap "
            f"ELSE greatest(p.cap, m.nc) END AS cap "
            f"FROM {p} p LEFT JOIN m{i} m USING (vkey))"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT vkey, CAST(cap AS BIGINT) AS cap FROM w{k} "
        "WHERE cap IS NOT NULL AND isfinite(cap)"
    )


def ppr_fixed_sql(k: int, limit: int, d: float = 0.85) -> str:
    """Unrolled k-superstep personalized PageRank, seeds = actor vertices
    (vkey LIKE 'user:%'), teleport + dangling mass to the seed distribution;
    top-``limit`` by rounded rank — mirrors pregel.PersonalizedPageRankProgram."""
    ctes = [
        _GRAPH_CTES,
        "outw AS (SELECT s, sum(w) AS out_w FROM e GROUP BY s)",
        "coeff AS (SELECT e.s, e.t, e.w / o.out_w AS c FROM e JOIN outw o USING (s))",
        "dang AS (SELECT v.vkey FROM v LEFT JOIN outw o ON o.s = v.vkey WHERE o.s IS NULL)",
        "ns AS (SELECT CAST(count(*) AS DOUBLE) AS k FROM v WHERE vkey LIKE 'user:%')",
        "sw AS (SELECT vkey, CASE WHEN vkey LIKE 'user:%' "
        "THEN CAST(1.0 AS DOUBLE) / (SELECT k FROM ns) ELSE CAST(0.0 AS DOUBLE) END AS s "
        "FROM v)",
        "r0 AS (SELECT vkey, s AS r FROM sw)",
    ]
    dd = f"CAST({d!r} AS DOUBLE)"
    for i in range(1, k + 1):
        p = f"r{i - 1}"
        ctes.append(
            f"d{i} AS (SELECT coalesce(sum(r.r), 0.0) AS dm FROM {p} r JOIN dang USING (vkey))"
        )
        ctes.append(
            f"m{i} AS (SELECT c.t AS vkey, sum(p.r * c.c) AS ms "
            f"FROM coeff c JOIN {p} p ON p.vkey = c.s GROUP BY c.t)"
        )
        ctes.append(
            f"r{i} AS (SELECT v.vkey, (CAST(1.0 AS DOUBLE) - {dd}) * sw.s "
            f"+ {dd} * (coalesce(m.ms, 0.0) + (SELECT dm FROM d{i}) * sw.s) AS r "
            f"FROM v JOIN sw USING (vkey) LEFT JOIN m{i} m USING (vkey))"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT v.vkey, round(r.r, 6) AS rank\nFROM r{k} r JOIN v USING (vkey)"
        + f"\nORDER BY round(r.r, 6) DESC, v.vkey\nLIMIT {limit}"
    )


def hits_fixed_sql(k: int, limit: int) -> str:
    """Unrolled k-iteration HITS (hubs & authorities, L1-normalized each
    half-step) over the DISTINCT directed simple events edges; top-``limit``
    by rounded authority — mirrors hits.engine_hits exactly (same update
    order: authorities from h_{t-1}, normalize, hubs from normalized a_t,
    normalize)."""
    # Each CTE references its predecessor exactly ONCE (the L1 normalizer is
    # a ``sum(..) OVER ()`` window, not a scalar subquery): a second reference
    # per level makes CTE inlining re-expand the whole upstream chain, i.e.
    # O(2^k) scans of the events parquet — DuckDB dies on file handles.
    ctes = [
        _GRAPH_CTES,
        "ed AS (SELECT DISTINCT s, t FROM e)",
        "h0 AS (SELECT vkey, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS h FROM v)",
    ]
    for i in range(1, k + 1):
        p = f"h{i - 1}"
        ctes.append(
            f"ar{i} AS (SELECT ed.t AS vkey, sum(p.h) AS a "
            f"FROM ed JOIN {p} p ON p.vkey = ed.s GROUP BY ed.t)"
        )
        ctes.append(
            f"a{i} AS (SELECT v.vkey, "
            f"coalesce(r.a, 0.0) / sum(coalesce(r.a, 0.0)) OVER () AS a "
            f"FROM v LEFT JOIN ar{i} r USING (vkey))"
        )
        ctes.append(
            f"hr{i} AS (SELECT ed.s AS vkey, sum(a.a) AS h "
            f"FROM ed JOIN a{i} a ON a.vkey = ed.t GROUP BY ed.s)"
        )
        ctes.append(
            f"h{i} AS (SELECT v.vkey, "
            f"coalesce(r.h, 0.0) / sum(coalesce(r.h, 0.0)) OVER () AS h "
            f"FROM v LEFT JOIN hr{i} r USING (vkey))"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT a.vkey, round(a.a, 6) AS authority, round(h.h, 6) AS hub"
        + f"\nFROM a{k} a JOIN h{k} h USING (vkey)"
        + f"\nORDER BY round(a.a, 6) DESC, a.vkey\nLIMIT {limit}"
    )


def salsa_fixed_sql(k: int, limit: int) -> str:
    """Unrolled k-iteration SALSA (degree-normalized HITS; Lempel & Moran
    2000) over the DISTINCT directed simple events edges; top-``limit`` by
    rounded authority — mirrors hits.salsa_scores exactly (authorities from
    h_{t-1}/outdeg, normalize, hubs from normalized a_t/indeg, normalize).

    Same linear-chain discipline as hits_fixed_sql (each score CTE
    referenced once; normalizers are ``sum(..) OVER ()`` windows); the
    degree tables are MATERIALIZED because every level re-joins them."""
    ctes = [
        _GRAPH_CTES,
        "ed AS MATERIALIZED (SELECT DISTINCT s, t FROM e)",
        "sod AS MATERIALIZED (SELECT s, CAST(count(*) AS DOUBLE) AS d FROM ed GROUP BY s)",
        "sid AS MATERIALIZED (SELECT t, CAST(count(*) AS DOUBLE) AS d FROM ed GROUP BY t)",
        "h0 AS (SELECT vkey, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS h FROM v)",
    ]
    for i in range(1, k + 1):
        p = f"h{i - 1}"
        ctes.append(
            f"ar{i} AS (SELECT ed.t AS vkey, sum(p.h / o.d) AS a "
            f"FROM ed JOIN sod o USING (s) JOIN {p} p ON p.vkey = ed.s GROUP BY ed.t)"
        )
        ctes.append(
            f"a{i} AS (SELECT v.vkey, "
            f"coalesce(r.a, 0.0) / sum(coalesce(r.a, 0.0)) OVER () AS a "
            f"FROM v LEFT JOIN ar{i} r USING (vkey))"
        )
        ctes.append(
            f"hr{i} AS (SELECT ed.s AS vkey, sum(a.a / x.d) AS h "
            f"FROM ed JOIN sid x USING (t) JOIN a{i} a ON a.vkey = ed.t GROUP BY ed.s)"
        )
        ctes.append(
            f"h{i} AS (SELECT v.vkey, "
            f"coalesce(r.h, 0.0) / sum(coalesce(r.h, 0.0)) OVER () AS h "
            f"FROM v LEFT JOIN hr{i} r USING (vkey))"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT a.vkey, round(a.a, 6) AS authority, round(h.h, 6) AS hub"
        + f"\nFROM a{k} a JOIN h{k} h USING (vkey)"
        + f"\nORDER BY round(a.a, 6) DESC, a.vkey\nLIMIT {limit}"
    )


def kcore_fixed_sql(k: int, iters: int) -> str:
    """Unrolled ``iters``-peel k-core over the events graph's undirected
    simple view; output (vkey, core_deg) with core_deg the induced degree
    of the surviving set — mirrors kcore.engine_kcore exactly (including
    the not-necessarily-converged fixed-iteration semantics)."""
    ctes = [
        _GRAPH_CTES,
        # undirected simple adjacency (both directions, self-loops dropped)
        "und AS (SELECT DISTINCT a, b FROM ("
        "SELECT s AS a, t AS b FROM ek WHERE s <> t "
        "UNION ALL SELECT t AS a, s AS b FROM ek WHERE s <> t))",
        "a0 AS (SELECT DISTINCT a AS vkey FROM und)",
    ]
    for i in range(1, iters + 1):
        p = f"a{i - 1}"
        # MATERIALIZED is load-bearing: a{i} is referenced TWICE per round,
        # and DuckDB inlines plain CTEs, so an unrolled chain re-expands
        # 2^iters copies of the base join (measured: OOM past sf0.01)
        ctes.append(
            f"d{i} AS MATERIALIZED (SELECT u.a AS vkey, count(*) AS c FROM und u "
            f"JOIN {p} x ON u.a = x.vkey JOIN {p} y ON u.b = y.vkey GROUP BY u.a)"
        )
        ctes.append(f"a{i} AS MATERIALIZED (SELECT vkey FROM d{i} WHERE c >= {k})")
    ctes.append(
        f"dfin AS (SELECT u.a AS vkey, count(*) AS c FROM und u "
        f"JOIN a{iters} x ON u.a = x.vkey JOIN a{iters} y ON u.b = y.vkey GROUP BY u.a)"
    )
    return "WITH " + ",\n".join(ctes) + "\nSELECT vkey, c AS core_deg FROM dfin"


def onion_fixed_sql(k: int, iters: int) -> str:
    """Onion layers of the unrolled ``iters``-peel k-core (mirrors
    kcore.engine_onion): layer = first peel round whose alive set no
    longer contains the vertex, 0 = survives all rounds."""
    ctes = [
        _GRAPH_CTES,
        "und AS (SELECT DISTINCT a, b FROM ("
        "SELECT s AS a, t AS b FROM ek WHERE s <> t "
        "UNION ALL SELECT t AS a, s AS b FROM ek WHERE s <> t))",
        "a0 AS (SELECT DISTINCT a AS vkey FROM und)",
    ]
    for i in range(1, iters + 1):
        p = f"a{i - 1}"
        # MATERIALIZED is load-bearing: a{i} is referenced TWICE per round,
        # and DuckDB inlines plain CTEs, so an unrolled chain re-expands
        # 2^iters copies of the base join (measured: OOM past sf0.01)
        ctes.append(
            f"d{i} AS MATERIALIZED (SELECT u.a AS vkey, count(*) AS c FROM und u "
            f"JOIN {p} x ON u.a = x.vkey JOIN {p} y ON u.b = y.vkey GROUP BY u.a)"
        )
        ctes.append(f"a{i} AS MATERIALIZED (SELECT vkey FROM d{i} WHERE c >= {k})")
    joins = " ".join(
        f"LEFT JOIN a{i} ON a{i}.vkey = a0.vkey" for i in range(1, iters + 1)
    )
    case = " ".join(
        f"WHEN a{i}.vkey IS NULL THEN {i}" for i in range(1, iters + 1)
    )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT a0.vkey, CASE {case} ELSE 0 END AS layer FROM a0 {joins}"
    )


def harmonic_fixed_sql(k: int, n_seeds: int) -> str:
    """Unrolled k-superstep LANDMARK BFS from the ``n_seeds`` lowest-vkey
    vertices over the undirected simple events graph, reduced to per-vertex
    harmonic centrality over the landmark sample:
    harmonic(v) = Σ_{s: 0 < d(s,v) <= k} 1/d(s,v).  Mirrors
    engine_queries.engine_harmonic (one pregel.BFSProgram run per seed)."""
    ctes = [
        _GRAPH_CTES,
        "und AS (SELECT DISTINCT a, b FROM ("
        "SELECT s AS a, t AS b FROM ek WHERE s <> t "
        "UNION ALL SELECT t AS a, s AS b FROM ek WHERE s <> t))",
        f"seeds AS (SELECT vkey AS seed FROM v ORDER BY vkey LIMIT {n_seeds})",
        "h0 AS (SELECT s.seed, v.vkey, "
        "CASE WHEN v.vkey = s.seed THEN 0 END AS dist "
        "FROM v CROSS JOIN seeds s)",
    ]
    for i in range(1, k + 1):
        p = f"h{i - 1}"
        ctes.append(
            f"hm{i} AS (SELECT p.seed, u.a AS vkey, min(p.dist) + 1 AS nd "
            f"FROM und u JOIN {p} p ON p.vkey = u.b "
            f"WHERE p.dist IS NOT NULL GROUP BY p.seed, u.a)"
        )
        ctes.append(
            f"h{i} AS (SELECT p.seed, p.vkey, CASE "
            f"WHEN p.dist IS NULL THEN m.nd "
            f"WHEN m.nd IS NULL THEN p.dist "
            f"ELSE least(p.dist, m.nd) END AS dist "
            f"FROM {p} p LEFT JOIN hm{i} m USING (seed, vkey))"
        )
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT vkey,
       CAST(count(CASE WHEN dist > 0 THEN 1 END) AS BIGINT) AS n_reached,
       round(coalesce(sum(CASE WHEN dist > 0 THEN 1.0 / dist END), 0.0), 6) + 0.0 AS harmonic
FROM h{k} WHERE dist IS NOT NULL GROUP BY vkey
"""
    )


def scc_pivot_fixed_sql(k: int) -> str:
    """Unrolled k-hop DIRECTED BFS from the min-vkey pivot, forward AND
    backward, intersected — the core step of distributed FW-BW SCC: the
    pivot's strongly-connected component (bounded at diameter k) is exactly
    {v : pivot →≤k v and v →≤k pivot}.  Mirrors engine_queries.engine_scc
    (two unit-weight SSSPProgram runs, one on the reversed edge table)."""
    ctes = [
        _GRAPH_CTES,
        "ad AS (SELECT DISTINCT s AS a, t AS b FROM ek)",
        "f0 AS (SELECT vkey, CASE WHEN vkey = (SELECT min(vkey) FROM v) "
        "THEN 0 END AS dist FROM v)",
        "b0 AS (SELECT vkey, CASE WHEN vkey = (SELECT min(vkey) FROM v) "
        "THEN 0 END AS dist FROM v)",
    ]
    for i in range(1, k + 1):
        for tag, src_col, dst_col in (("f", "a", "b"), ("b", "b", "a")):
            p = f"{tag}{i - 1}"
            ctes.append(
                f"{tag}m{i} AS (SELECT e.{dst_col} AS vkey, min(p.dist) + 1 AS nd "
                f"FROM ad e JOIN {p} p ON p.vkey = e.{src_col} "
                f"WHERE p.dist IS NOT NULL GROUP BY e.{dst_col})"
            )
            ctes.append(
                f"{tag}{i} AS (SELECT p.vkey, CASE "
                f"WHEN p.dist IS NULL THEN m.nd "
                f"WHEN m.nd IS NULL THEN p.dist "
                f"ELSE least(p.dist, m.nd) END AS dist "
                f"FROM {p} p LEFT JOIN {tag}m{i} m USING (vkey))"
            )
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT f.vkey, CAST(f.dist AS BIGINT) AS fwd_hops, CAST(b.dist AS BIGINT) AS bwd_hops
FROM f{k} f JOIN b{k} b USING (vkey)
WHERE f.dist IS NOT NULL AND b.dist IS NOT NULL
"""
    )


def bowtie_fixed_sql(k: int) -> str:
    """Broder-et-al. bowtie profile around the min-vkey pivot: the f/b
    unrolled k-hop directed chains from scc_pivot_fixed_sql classify CORE
    (fwd∧bwd) / IN (bwd only) / OUT (fwd only); an EXACT single-source
    undirected closure from the pivot (bounded (v) states, so plain
    recursion terminates) separates TENDRIL (pivot's weak component,
    neither direction within k) from DISCONNECTED.  Mirrors
    engine_queries.q_bowtie (two bounded SSSP runs + one hash-min CC)."""
    ctes = [
        _GRAPH_CTES,
        "ad AS (SELECT DISTINCT s AS a, t AS b FROM ek)",
        "f0 AS (SELECT vkey, CASE WHEN vkey = (SELECT min(vkey) FROM v) "
        "THEN 0 END AS dist FROM v)",
        "b0 AS (SELECT vkey, CASE WHEN vkey = (SELECT min(vkey) FROM v) "
        "THEN 0 END AS dist FROM v)",
    ]
    for i in range(1, k + 1):
        for tag, src_col, dst_col in (("f", "a", "b"), ("b", "b", "a")):
            p = f"{tag}{i - 1}"
            ctes.append(
                f"{tag}m{i} AS (SELECT e.{dst_col} AS vkey, min(p.dist) + 1 AS nd "
                f"FROM ad e JOIN {p} p ON p.vkey = e.{src_col} "
                f"WHERE p.dist IS NOT NULL GROUP BY e.{dst_col})"
            )
            ctes.append(
                f"{tag}{i} AS (SELECT p.vkey, CASE "
                f"WHEN p.dist IS NULL THEN m.nd "
                f"WHEN m.nd IS NULL THEN p.dist "
                f"ELSE least(p.dist, m.nd) END AS dist "
                f"FROM {p} p LEFT JOIN {tag}m{i} m USING (vkey))"
            )
    ctes.append(
        "und AS (SELECT DISTINCT a, b FROM ("
        "SELECT a, b FROM ad WHERE a <> b "
        "UNION ALL SELECT b AS a, a AS b FROM ad WHERE a <> b))"
    )
    ctes.append(
        "wr AS (WITH RECURSIVE w(v) AS ("
        "SELECT min(vkey) FROM v "
        "UNION SELECT und.b FROM w JOIN und ON und.a = w.v) "
        "SELECT DISTINCT v FROM w)"
    )
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT CASE WHEN f.dist IS NOT NULL AND b.dist IS NOT NULL THEN 'core'
            WHEN b.dist IS NOT NULL THEN 'in'
            WHEN f.dist IS NOT NULL THEN 'out'
            WHEN w.v IS NOT NULL THEN 'tendril'
            ELSE 'disconnected' END AS region,
       CAST(count(*) AS BIGINT) AS n_vertices
FROM v LEFT JOIN f{k} f USING (vkey) LEFT JOIN b{k} b USING (vkey)
       LEFT JOIN wr w ON w.v = v.vkey
GROUP BY 1
"""
    )


def katz_fixed_sql(k: int, limit: int, alpha: float, beta: float) -> str:
    """Unrolled k-iteration Katz power series
    x_{t+1} = beta + alpha * (W^T x_t) over the directed weighted events
    edges (w = multiplicity), x_0 = beta; top-``limit`` by rounded value —
    mirrors pregel.KatzProgram with fixed_iters=k."""
    a = f"CAST({alpha!r} AS DOUBLE)"
    b = f"CAST({beta!r} AS DOUBLE)"
    ctes = [
        _GRAPH_CTES,
        f"x0 AS (SELECT vkey, {b} AS x FROM v)",
    ]
    for i in range(1, k + 1):
        p = f"x{i - 1}"
        ctes.append(
            f"km{i} AS (SELECT e.t AS vkey, sum(p.x * e.w) AS ms "
            f"FROM e JOIN {p} p ON p.vkey = e.s GROUP BY e.t)"
        )
        ctes.append(
            f"x{i} AS (SELECT v.vkey, {b} + {a} * coalesce(m.ms, 0) AS x "
            f"FROM v LEFT JOIN km{i} m ON m.vkey = v.vkey)"
        )
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT vkey, round(x, 6) + 0.0 AS katz FROM x{k}
ORDER BY round(x, 6) DESC, vkey LIMIT {limit}
"""
    )
