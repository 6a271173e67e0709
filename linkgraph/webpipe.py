"""Web-corpus pipeline ops: URL/host extraction + host co-citation edges,
PII detection/redaction, repetition-quality scoring, token Zipf curve
(SURVEY.md §2.15).

The synthetic ``documents`` table carries no URLs or e-mail addresses, so
the two extraction ops append a DETERMINISTIC fixture to each document
in-query (pure column expressions, replicated verbatim in the DuckDB
oracle — the same synthesize-from-text approach as multimodal.py's
payload table).  The extraction/redaction machinery itself (regexes,
explode, pair join) is the real thing a crawl pipeline would run.

Scale notes (100 TB posture):
- all four ops are pure Catalyst column expressions + hash aggregates;
  no Python, no UDFs, no collects.
- host co-citation is a per-doc self-join on the (tiny) distinct host
  list of each document — fan-out bounded by hosts-per-doc², never by
  corpus size; the final groupBy((a,b)) is map-side combinable.
- token Zipf is explode → partial-aggregable count → a single top-k sort
  of the (small) distinct-token aggregate, not of the corpus.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .io import load_table

_URL_RE = r"https?://([a-z0-9.]+)/"
_EMAIL_RE = r"[a-z0-9._]+@[a-z0-9.]+"
_ZIPF_TOPK = 30


def _with_urls(d: DataFrame) -> DataFrame:
    """Deterministic URL fixture: every doc cites hosts
    h(doc_id%23).example and h((7*doc_id+3)%23).example."""
    return d.withColumn(
        "text2",
        F.concat(
            F.col("text"),
            F.lit(" see http://h"),
            (F.col("doc_id") % 23).cast("string"),
            F.lit(".example/a and https://h"),
            ((F.col("doc_id") * 7 + 3) % 23).cast("string"),
            F.lit(".example/b"),
        ),
    )


# SQL mirror of _with_urls
_SQL_TEXT2 = (
    "text || ' see http://h' || CAST(doc_id % 23 AS VARCHAR)"
    " || '.example/a and https://h'"
    " || CAST((doc_id * 7 + 3) % 23 AS VARCHAR) || '.example/b'"
)


def q_url_host_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host co-citation edges: for each document extract the distinct set
    of linked hosts, emit every unordered host pair co-cited by the doc,
    and count citing docs per pair.  Output (host_a, host_b, n_docs)."""
    d = _with_urls(load_table(spark, sf_dir, "documents"))
    hosts = (
        d.select(
            "doc_id",
            F.explode(
                F.regexp_extract_all("text2", F.lit(_URL_RE), F.lit(1))
            ).alias("host"),
        )
        .distinct()
    )
    a = hosts.select("doc_id", F.col("host").alias("host_a"))
    b = hosts.select("doc_id", F.col("host").alias("host_b"))
    return (
        a.join(b, "doc_id")
        .where(F.col("host_a") < F.col("host_b"))
        .groupBy("host_a", "host_b")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


SQL_URL_HOST_EDGES = f"""
WITH d AS (SELECT doc_id, {_SQL_TEXT2} AS text2 FROM documents),
hosts AS (
  SELECT DISTINCT doc_id, h AS host
  FROM d, unnest(regexp_extract_all(text2, '{_URL_RE}', 1)) AS t(h)
)
SELECT a.host AS host_a, b.host AS host_b, count(*) AS n_docs
FROM hosts a JOIN hosts b
  ON b.doc_id = a.doc_id AND a.host < b.host
GROUP BY a.host, b.host
"""


def q_doc_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detect + redact: a deterministic e-mail is injected into every
    third document, then counted (regexp_extract_all) and redacted
    (regexp_replace -> '[EMAIL]').  Output
    (doc_id, n_emails, redacted_len)."""
    d = load_table(spark, sf_dir, "documents").withColumn(
        "text3",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                (F.col("doc_id") % 97).cast("string"),
                F.lit("@mail"),
                (F.col("doc_id") % 13).cast("string"),
                F.lit(".example now"),
            ),
        ).otherwise(F.col("text")),
    )
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text3", F.lit(_EMAIL_RE), F.lit(0))).alias(
            "n_emails"
        ),
        F.length(
            F.regexp_replace("text3", _EMAIL_RE, "[EMAIL]")
        ).alias("redacted_len"),
    )


SQL_DOC_PII = f"""
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0
              THEN text || ' contact user' || CAST(doc_id % 97 AS VARCHAR)
                   || '@mail' || CAST(doc_id % 13 AS VARCHAR) || '.example now'
              ELSE text END AS text3
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text3, '{_EMAIL_RE}', 0)) AS INT) AS n_emails,
       CAST(length(regexp_replace(text3, '{_EMAIL_RE}', '[EMAIL]', 'g')) AS INT)
         AS redacted_len
FROM d
"""


def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-quality signal: per-document share of the most frequent
    token (high share = degenerate/repetitive text — a standard crawl
    quality filter).  Output (doc_id, n_words, n_distinct, top_share)."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim("text")), " ")).alias("word"),
    )
    wc = words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("n"))
    return wc.groupBy("doc_id").agg(
        F.sum("n").alias("n_words"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.round(F.max("n") / F.sum("n"), 6).alias("top_share"),
    )


SQL_DOC_REPETITION = """
WITH words AS (
  SELECT doc_id, w AS word
  FROM documents, unnest(string_split(lower(trim(text)), ' ')) AS t(w)
), wc AS (
  SELECT doc_id, word, count(*) AS n FROM words GROUP BY doc_id, word
)
SELECT doc_id,
       CAST(sum(n) AS BIGINT) AS n_words,
       count(*) AS n_distinct,
       round(CAST(max(n) AS DOUBLE) / sum(n), 6) AS top_share
FROM wc GROUP BY doc_id
"""


def q_token_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token frequency head: top-30 tokens by count (rank ties
    broken by token text).  Output (rank, word, n)."""
    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(F.split(F.lower(F.trim("text")), " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.orderBy(F.desc("n"), F.asc("word"))
    return (
        counts.select(F.row_number().over(w).alias("rank"), "word", "n")
        .where(F.col("rank") <= _ZIPF_TOPK)
    )


SQL_TOKEN_ZIPF = f"""
WITH words AS (
  SELECT w AS word
  FROM documents, unnest(string_split(lower(trim(text)), ' ')) AS t(w)
), counts AS (
  SELECT word, count(*) AS n FROM words GROUP BY word
)
SELECT CAST(row_number() OVER (ORDER BY n DESC, word) AS INT) AS rank, word, n
FROM counts
QUALIFY rank <= {_ZIPF_TOPK}
"""


def q_doc_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram Shannon entropy per document (bits/token) — low entropy =
    repetitive/degenerate text, the information-theoretic sibling of the
    top-share filter.  Two stacked combinable groupBys; no UDFs.
    Output (doc_id, n_words, entropy)."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim("text")), " ")).alias("word"),
    )
    wc = words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("n"))
    tot = wc.groupBy("doc_id").agg(F.sum("n").alias("tot"))
    p = wc.join(tot, "doc_id").select(
        "doc_id", "tot", (F.col("n") / F.col("tot")).alias("p")
    )
    return p.groupBy("doc_id").agg(
        F.max("tot").alias("n_words"),
        F.round(-F.sum(F.col("p") * F.log2("p")), 6).alias("entropy"),
    )


SQL_DOC_ENTROPY = """
WITH words AS (
  SELECT doc_id, w AS word
  FROM documents, unnest(string_split(lower(trim(text)), ' ')) AS t(w)
), wc AS (
  SELECT doc_id, word, count(*) AS n FROM words GROUP BY doc_id, word
), tot AS (
  SELECT doc_id, sum(n) AS tot FROM wc GROUP BY doc_id
), p AS (
  SELECT wc.doc_id, tot.tot, CAST(wc.n AS DOUBLE) / tot.tot AS p
  FROM wc JOIN tot USING (doc_id)
)
SELECT doc_id,
       CAST(max(tot) AS BIGINT) AS n_words,
       round(-sum(p * log2(p)), 6) AS entropy
FROM p GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# URL canonicalization + dedup (crawl frontier hygiene: scheme/host case,
# default port, trailing slash all collapse to one canonical form)
# --------------------------------------------------------------------------

def _with_url_variants(d: DataFrame) -> DataFrame:
    """Deterministic messy-URL fixture: each doc cites the same logical
    page twice in different surface forms (upper-case scheme+host, an
    explicit default port, a trailing slash)."""
    k = (F.col("doc_id") % 23).cast("string")
    p = (F.col("doc_id") % 5).cast("string")
    return d.select(
        "doc_id",
        F.concat(
            F.lit("http://h"), k, F.lit(".example:80/p"), p, F.lit("/")
        ).alias("url_a"),
        F.concat(
            F.lit("HTTP://H"), k, F.lit(".EXAMPLE/p"), p
        ).alias("url_b"),
    )


def _canon(col):
    """lower-case -> drop explicit default port -> drop trailing slash.
    The ':80' replace is safe here because the fixture paths carry no
    port-like substrings; a production canonicalizer would anchor on the
    authority component."""
    return F.regexp_replace(
        F.regexp_replace(F.lower(col), F.lit(":80/"), F.lit("/")),
        F.lit("/$"),
        F.lit(""),
    )


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalize both URL variants of every doc and count citing docs
    per canonical URL — the two surface forms of each logical page must
    collapse to ONE row with double the count.  Pure column expressions +
    one combinable groupBy.  Output (url, n_citations)."""
    d = _with_url_variants(load_table(spark, sf_dir, "documents"))
    urls = d.select("doc_id", _canon(F.col("url_a")).alias("url")).unionByName(
        d.select("doc_id", _canon(F.col("url_b")).alias("url"))
    )
    return urls.groupBy("url").agg(F.count(F.lit(1)).alias("n_citations"))


SQL_URL_DEDUP = """
WITH d AS (
  SELECT doc_id,
         'http://h' || CAST(doc_id % 23 AS VARCHAR) || '.example:80/p'
           || CAST(doc_id % 5 AS VARCHAR) || '/' AS url_a,
         'HTTP://H' || CAST(doc_id % 23 AS VARCHAR) || '.EXAMPLE/p'
           || CAST(doc_id % 5 AS VARCHAR) AS url_b
  FROM documents
), urls AS (
  SELECT doc_id, url_a AS url FROM d
  UNION ALL
  SELECT doc_id, url_b AS url FROM d
), canon AS (
  SELECT regexp_replace(replace(lower(url), ':80/', '/'), '/$', '') AS url
  FROM urls
)
SELECT url, count(*) AS n_citations FROM canon GROUP BY url
"""


# --------------------------------------------------------------------------
# host-graph PageRank (cross-subsystem composition: URL extraction -> graph
# build -> fixed-superstep PageRank — domain authority, the web-scale use)
# --------------------------------------------------------------------------

_PR_STEPS = 5


def _host_graph(spark: SparkSession, sf_dir: str):
    """GraphTables over the host co-citation graph: one symmetric weighted
    edge (w = co-citing doc count) per ordered host pair.  Hosts that never
    co-occur with another host have no edges and are excluded — mirrored in
    the oracle's ``v`` CTE (derived from ``e``, not from all hosts)."""
    from .derive import key_graph

    d = _with_urls(load_table(spark, sf_dir, "documents"))
    hosts = (
        d.select(
            "doc_id",
            F.explode(
                F.regexp_extract_all("text2", F.lit(_URL_RE), F.lit(1))
            ).alias("host"),
        )
        .distinct()
    )
    a = hosts.select("doc_id", F.col("host").alias("s"))
    b = hosts.select("doc_id", F.col("host").alias("t"))
    e = (
        a.join(b, "doc_id")
        .where(F.col("s") != F.col("t"))
        .groupBy("s", "t")
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
        .withColumn("etype", F.lit("cocite"))
    )
    return key_graph(e, F.lit("host"))


def _host_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(host, rank): 5 fixed CSR-engine PageRank supersteps over the host
    co-citation graph, rank rounded to 6 decimals."""
    from .pregel import GraphContext, PageRankProgram, run_program

    g = _host_graph(spark, sf_dir)
    ctx = GraphContext.build(g, 8)
    try:
        ranks = run_program(ctx, PageRankProgram(tol=0.0), fixed_iters=_PR_STEPS).state
    finally:
        ctx.unpersist()
    return ranks.join(g.vertices, "vid").select(
        F.col("vkey").alias("host"), F.round("rank", 6).alias("rank")
    )


def q_host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain authority: 5 fixed PageRank supersteps over the host
    co-citation graph, top-10 hosts by rounded rank (the same fixed-k +
    round-to-6 protocol as the flagship, so the unrolled-CTE oracle is a
    full hash check).  Output (host, rank)."""
    return _host_ranks(spark, sf_dir).orderBy(F.desc("rank"), "host").limit(10)


_HOST_GRAPH_CTES = f"""
d AS (SELECT doc_id, {_SQL_TEXT2} AS text2 FROM documents),
hosts AS (
  SELECT DISTINCT doc_id, h AS host
  FROM d, unnest(regexp_extract_all(text2, '{_URL_RE}', 1)) AS t(h)
), e AS (
  SELECT a.host AS s, b.host AS t, CAST(count(*) AS DOUBLE) AS w
  FROM hosts a JOIN hosts b ON b.doc_id = a.doc_id AND a.host <> b.host
  GROUP BY a.host, b.host
), v AS (
  SELECT vkey, CAST(row_number() OVER (ORDER BY vkey) - 1 AS BIGINT) AS vid
  FROM (SELECT DISTINCT s AS vkey FROM e)
), nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM v)"""


def host_pagerank_sql(k: int = _PR_STEPS, limit: int = 10, d: float = 0.85) -> str:
    from .graph_oracles import pagerank_unroll_ctes

    ctes = pagerank_unroll_ctes(k, d, _HOST_GRAPH_CTES)
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT v.vkey AS host, round(r.r, 6) AS rank"
        + f"\nFROM r{k} r JOIN v USING (vkey)"
        + f"\nORDER BY round(r.r, 6) DESC, v.vkey\nLIMIT {limit}"
    )


# --------------------------------------------------------------------------
# PageRank-weighted corpus selection (§2.15 row 197): importance-sample
# documents by the authority of the hosts they cite — the graph-aware
# cousin of doc_weighted_sample (which weights by length).  The standard
# "curate from the link graph" move: rank hosts once, weight each doc by
# the summed rank of its cited hosts, then draw a deterministic A-ES
# sample without replacement under those weights.
# --------------------------------------------------------------------------

_RWS_K = 50
_RWS_SCALE = float(1 << 60)


def q_rank_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``_RWS_K`` docs by the Efraimidis-Spirakis key ln(u)/w with
    w = Σ rank(host) over the doc's distinct cited hosts (5 fixed host-
    PageRank supersteps, rounded like ``host_pagerank`` so the unrolled
    oracle hash-checks end-to-end).  Docs citing no ranked host are out of
    the draw, mirroring the oracle.  100 TB posture: one engine PageRank
    over the host graph (hosts ≪ docs, ranks broadcast back), a per-doc
    combinable sum, then ONE top-k — per-partition heaps, no global sort.
    Output (doc_id, w, skey)."""
    from .datapipe import _md5_int

    ranks = _host_ranks(spark, sf_dir)
    d = _with_sub_urls(load_table(spark, sf_dir, "documents"))
    dh = d.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all("text2", F.lit(_URL_RE), F.lit(1))
        ).alias("host"),
    ).distinct()
    w = (
        dh.join(F.broadcast(ranks), "host")
        .groupBy("doc_id")
        .agg(F.round(F.sum("rank"), 6).alias("w"))
    )
    u = (
        _md5_int(
            F.concat_ws(":", F.lit("rwsample"), F.col("doc_id").cast("string"))
        )
        + F.lit(1.0)
    ) / F.lit(_RWS_SCALE)
    t = w.select("doc_id", "w", (F.log(u) / F.col("w")).alias("k_raw"))
    return (
        t.orderBy(F.desc("k_raw"), "doc_id")
        .limit(_RWS_K)
        .select("doc_id", "w", (F.round("k_raw", 6) + 0.0).alias("skey"))
    )


def rank_weighted_sample_sql(k: int = _PR_STEPS, d: float = 0.85) -> str:
    from .datapipe import _sql_md5_int
    from .graph_oracles import pagerank_unroll_ctes

    ctes = pagerank_unroll_ctes(k, d, _HOST_GRAPH_CTES)
    return (
        "WITH " + ",\n".join(ctes)
        + f""",
ranks AS (
  SELECT v.vkey AS host, round(r.r, 6) AS rank FROM r{k} r JOIN v USING (vkey)
), wts AS (
  SELECT doc_id, round(sum(rank), 6) AS w
  FROM hosts JOIN ranks USING (host) GROUP BY doc_id
), t AS (
  SELECT doc_id, w,
         ln(({_sql_md5_int("'rwsample:' || CAST(doc_id AS VARCHAR)")} + 1.0)
            / {_RWS_SCALE}) / w AS k_raw
  FROM wts
)
SELECT doc_id, w, round(k_raw, 6) + 0.0 AS skey
FROM t ORDER BY k_raw DESC, doc_id LIMIT {_RWS_K}
"""
    )


# --------------------------------------------------------------------------
# TrustRank + spam mass (Gyöngyi et al. 2004/2006): THE web-spam detection
# composition — PageRank and seed-personalized PageRank over the same host
# graph, spam mass = the rank fraction NOT attributable to trusted seeds.
# --------------------------------------------------------------------------

_TRUST_SEEDS = 3  # "curated whitelist" stand-in: top-k hosts by co-citation
                  # out-weight, ties broken by host name (deterministic)


def q_host_spam_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spam-mass audit over the host co-citation graph: run the CSR
    gather-scatter engine twice on ONE shared GraphContext (blocks built
    once) — plain PageRank and TrustRank (personalized PageRank whose
    teleport + dangling mass flow to the trusted seed set) — both FIXED 5
    supersteps, then spam_mass = (pr - trust)/pr per host from the rounded
    scores.  Hosts a trusted-seed surfer rarely reaches keep almost all of
    their rank as spam mass.  100 TB posture: two engine runs amortize one
    CSR build; the seed pick is a combinable degree agg + top-k, never a
    crawl-scale shuffle.  Output (host, rank, trust, spam_mass)."""
    from .pregel import (
        GraphContext,
        PageRankProgram,
        PersonalizedPageRankProgram,
        run_program,
    )

    g = _host_graph(spark, sf_dir)
    ctx = GraphContext.build(g, 8)
    try:
        outw = g.edges.groupBy("src").agg(F.sum("w").alias("out_w"))
        sw = Window.orderBy(F.desc("out_w"), "vkey")
        seeds = (
            outw.join(g.vertices.select(F.col("vid").alias("src"), "vkey"), "src")
            .select(F.col("src").alias("vid"), "out_w", "vkey")
            .withColumn("_rn", F.row_number().over(sw))
            .where(F.col("_rn") <= _TRUST_SEEDS)
            .select("vid")
        )
        pr = run_program(ctx, PageRankProgram(tol=0.0), fixed_iters=_PR_STEPS)
        tr = run_program(
            ctx, PersonalizedPageRankProgram(seeds, tol=0.0), fixed_iters=_PR_STEPS
        )
        both = (
            pr.state.select("vid", F.round("rank", 6).alias("rank"))
            .join(tr.state.select("vid", F.round("rank", 6).alias("trust")), "vid")
            .join(g.vertices.select("vid", F.col("vkey").alias("host")), "vid")
        )
        return both.select(
            "host",
            "rank",
            "trust",
            F.round((F.col("rank") - F.col("trust")) / F.col("rank"), 6).alias(
                "spam_mass"
            ),
        )
    finally:
        ctx.unpersist()


def host_spam_mass_sql(k: int = _PR_STEPS, d: float = 0.85) -> str:
    """Two unrolled fixed-k chains (prefixed p*/t*) over the shared host
    graph CTEs; spam mass from the rounded scores, like the engine."""
    dd = f"CAST({d!r} AS DOUBLE)"
    ctes = [
        _HOST_GRAPH_CTES,
        "outw AS (SELECT s, sum(w) AS out_w FROM e GROUP BY s)",
        "coeff AS (SELECT e.s, e.t, e.w / o.out_w AS c FROM e JOIN outw o USING (s))",
        "dang AS (SELECT v.vkey FROM v LEFT JOIN outw o ON o.s = v.vkey WHERE o.s IS NULL)",
        # trusted seeds: top-k hosts by out-weight, host-name tiebreak
        f"seeds AS (SELECT s AS vkey FROM ("
        f"SELECT s, row_number() OVER (ORDER BY out_w DESC, s) AS rn FROM outw"
        f") WHERE rn <= {_TRUST_SEEDS})",
        "ns AS (SELECT CAST(count(*) AS DOUBLE) AS k FROM seeds)",
        "sw AS (SELECT v.vkey, CASE WHEN seeds.vkey IS NOT NULL "
        "THEN CAST(1.0 AS DOUBLE) / (SELECT k FROM ns) ELSE CAST(0.0 AS DOUBLE) END AS s "
        "FROM v LEFT JOIN seeds USING (vkey))",
        "p0 AS (SELECT vkey, 1.0 / (SELECT n FROM nn) AS r FROM v)",
        "t0 AS (SELECT vkey, s AS r FROM sw)",
    ]
    for i in range(1, k + 1):
        pp, tp = f"p{i - 1}", f"t{i - 1}"
        ctes.append(
            f"pd{i} AS (SELECT coalesce(sum(r.r), 0.0) AS dm FROM {pp} r JOIN dang USING (vkey))"
        )
        ctes.append(
            f"pm{i} AS (SELECT c.t AS vkey, sum(p.r * c.c) AS ms "
            f"FROM coeff c JOIN {pp} p ON p.vkey = c.s GROUP BY c.t)"
        )
        ctes.append(
            f"p{i} AS (SELECT v.vkey, (CAST(1.0 AS DOUBLE) - {dd}) / (SELECT n FROM nn) "
            f"+ {dd} * (coalesce(m.ms, 0.0) + (SELECT dm FROM pd{i}) / (SELECT n FROM nn)) AS r "
            f"FROM v LEFT JOIN pm{i} m USING (vkey))"
        )
        ctes.append(
            f"td{i} AS (SELECT coalesce(sum(r.r), 0.0) AS dm FROM {tp} r JOIN dang USING (vkey))"
        )
        ctes.append(
            f"tm{i} AS (SELECT c.t AS vkey, sum(p.r * c.c) AS ms "
            f"FROM coeff c JOIN {tp} p ON p.vkey = c.s GROUP BY c.t)"
        )
        ctes.append(
            f"t{i} AS (SELECT v.vkey, (CAST(1.0 AS DOUBLE) - {dd}) * sw.s "
            f"+ {dd} * (coalesce(m.ms, 0.0) + (SELECT dm FROM td{i}) * sw.s) AS r "
            f"FROM v JOIN sw USING (vkey) LEFT JOIN tm{i} m USING (vkey))"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
SELECT v.vkey AS host,
       round(p.r, 6) AS rank,
       round(t.r, 6) AS trust,
       round((round(p.r, 6) - round(t.r, 6)) / round(p.r, 6), 6) AS spam_mass
FROM v JOIN p{k} p USING (vkey) JOIN t{k} t USING (vkey)
"""
    )


# --------------------------------------------------------------------------
# CCNet-style line-level dedup (boilerplate removal): drop every "line"
# whose exact form recurs across >= LINE_DF_MAX distinct documents.
# --------------------------------------------------------------------------

LINE_TOKENS = 8      # tokens per "line" (the synthetic corpus has no \n;
                     # fixed-width token segments stand in for lines)
LINE_DF_MAX = 2      # a line present in >= 2 distinct docs is boilerplate
_FOOTER = "subscribe now for daily updates follow the feed"  # 8 tokens
_FP_MOD = 2147483647


def q_doc_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style line-level dedup: segment each document's token stream
    into fixed ``LINE_TOKENS``-token lines, count each line's document
    frequency corpus-wide, and drop lines that recur in >= ``LINE_DF_MAX``
    distinct documents (boilerplate: headers, footers, nav chrome).  The
    synthetic corpus has no newlines and near-unique token runs, so a
    deterministic 8-token footer is appended to every doc in-query (the
    webpipe fixture discipline) — the dedup machinery then provably
    removes exactly that shared line.

    Scale posture: lines join on their int64 md5 hash, never on text; the
    doc-frequency aggregate and both groupBys are partial-aggregable; at
    100 TB this is two combinable shuffles over (doc, seg) and (line_h) —
    the canonical CCNet shape.  Output (doc_id, n_lines, n_kept,
    n_tokens_kept, kept_fp)."""
    from .datapipe import _md5_int

    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        F.concat(F.lower(F.trim("text")), F.lit(" " + _FOOTER)).alias("text2"),
    )
    words = base.select(
        "doc_id",
        F.posexplode(F.split("text2", " ")).alias("pos", "word"),
    )
    lines = (
        words.withColumn("seg", (F.col("pos") / LINE_TOKENS).cast("long"))
        .groupBy("doc_id", "seg")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "word"))),
                    lambda s: s["word"],
                ),
                " ",
            ).alias("line"),
        )
        .withColumn("line_h", _md5_int(F.col("line")))
    )
    df = lines.groupBy("line_h").agg(
        F.countDistinct("doc_id").alias("line_df")
    )
    tagged = lines.join(df, "line_h")
    kept = F.col("line_df") < LINE_DF_MAX
    return tagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(kept.cast("long")).alias("n_kept"),
        F.sum(F.when(kept, F.col("n_toks")).otherwise(F.lit(0))).alias(
            "n_tokens_kept"
        ),
        F.sum(
            F.when(kept, F.pmod(F.col("line_h"), F.lit(_FP_MOD))).otherwise(
                F.lit(0)
            )
        ).alias("kept_fp"),
    )


SQL_DOC_LINE_DEDUP = f"""
WITH base AS (
  SELECT doc_id, lower(trim(text)) || ' {_FOOTER}' AS text2 FROM documents
), words AS (
  SELECT doc_id, g.i - 1 AS pos, w[g.i] AS word
  FROM (SELECT doc_id, string_split(text2, ' ') AS w FROM base),
       LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) g
), lines AS (
  SELECT doc_id, CAST(floor(pos / {LINE_TOKENS}) AS BIGINT) AS seg,
         count(*) AS n_toks,
         string_agg(word, ' ' ORDER BY pos) AS line
  FROM words GROUP BY doc_id, seg
), hashed AS (
  SELECT doc_id, n_toks,
         CAST(('0x' || substr(md5(line), 1, 15)) AS BIGINT) AS line_h
  FROM lines
), df AS (
  SELECT line_h, count(DISTINCT doc_id) AS line_df FROM hashed GROUP BY line_h
)
SELECT doc_id,
       count(*) AS n_lines,
       CAST(sum(CASE WHEN line_df < {LINE_DF_MAX} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(sum(CASE WHEN line_df < {LINE_DF_MAX} THEN n_toks ELSE 0 END)
         AS BIGINT) AS n_tokens_kept,
       CAST(sum(CASE WHEN line_df < {LINE_DF_MAX} THEN line_h % {_FP_MOD}
                ELSE 0 END) AS BIGINT) AS kept_fp
FROM hashed JOIN df USING (line_h)
GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# Gopher-style composite quality rules (Rae et al. 2021 table A1 family):
# each rule is a pure column predicate; the row reports per-rule pass
# counts plus the final keep count, so the gate checks every rule.
# --------------------------------------------------------------------------

GOPHER_MIN_WORDS = 12
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WLEN = 2.0
GOPHER_MAX_MEAN_WLEN = 10.0
GOPHER_MAX_TOP_SHARE = 0.20
GOPHER_MIN_DISTINCT_RATIO = 0.30


def q_doc_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style composite quality filter: word-count bounds, mean
    word length bounds, top-token share cap, distinct-token ratio floor —
    every rule a pure Catalyst expression over one token explode, so at
    100 TB the whole filter fuses into the scan plus two combinable
    aggregates.  Output: one row per rule (plus 'keep') with the number
    of passing documents — checking the marginal of every rule, not just
    the conjunction."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim("text")), " ")).alias("word"),
    )
    wc = words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("n"))
    stats = wc.groupBy("doc_id").agg(
        F.sum("n").alias("n_words"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("n").alias("top_n"),
        (F.sum(F.length("word") * F.col("n")) / F.sum("n")).alias("mean_wlen"),
    )
    rules = stats.select(
        "doc_id",
        F.col("n_words").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS).alias(
            "r_words"
        ),
        F.col("mean_wlen")
        .between(GOPHER_MIN_MEAN_WLEN, GOPHER_MAX_MEAN_WLEN)
        .alias("r_wlen"),
        ((F.col("top_n") / F.col("n_words")) <= GOPHER_MAX_TOP_SHARE).alias(
            "r_topshare"
        ),
        (
            (F.col("n_distinct") / F.col("n_words"))
            >= GOPHER_MIN_DISTINCT_RATIO
        ).alias("r_distinct"),
    ).withColumn(
        "r_keep",
        F.col("r_words")
        & F.col("r_wlen")
        & F.col("r_topshare")
        & F.col("r_distinct"),
    )
    agg = rules.agg(
        F.sum(F.col("r_words").cast("long")).alias("words_bounds"),
        F.sum(F.col("r_wlen").cast("long")).alias("mean_word_len"),
        F.sum(F.col("r_topshare").cast("long")).alias("top_token_share"),
        F.sum(F.col("r_distinct").cast("long")).alias("distinct_ratio"),
        F.sum(F.col("r_keep").cast("long")).alias("keep"),
    )
    melted = agg.selectExpr(
        "stack(5, 'words_bounds', words_bounds, 'mean_word_len', "
        "mean_word_len, 'top_token_share', top_token_share, "
        "'distinct_ratio', distinct_ratio, 'keep', keep) AS (rule, n_pass)"
    )
    return melted


SQL_DOC_GOPHER_RULES = f"""
WITH words AS (
  SELECT doc_id, w AS word
  FROM documents, unnest(string_split(lower(trim(text)), ' ')) AS t(w)
), wc AS (
  SELECT doc_id, word, count(*) AS n FROM words GROUP BY doc_id, word
), stats AS (
  SELECT doc_id, sum(n) AS n_words, count(*) AS n_distinct, max(n) AS top_n,
         CAST(sum(length(word) * n) AS DOUBLE) / sum(n) AS mean_wlen
  FROM wc GROUP BY doc_id
), rules AS (
  SELECT doc_id,
         n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS} AS r_words,
         mean_wlen BETWEEN {GOPHER_MIN_MEAN_WLEN} AND {GOPHER_MAX_MEAN_WLEN}
           AS r_wlen,
         CAST(top_n AS DOUBLE) / n_words <= {GOPHER_MAX_TOP_SHARE}
           AS r_topshare,
         CAST(n_distinct AS DOUBLE) / n_words >= {GOPHER_MIN_DISTINCT_RATIO}
           AS r_distinct
  FROM stats
), agg AS (
  SELECT sum(CASE WHEN r_words THEN 1 ELSE 0 END) AS words_bounds,
         sum(CASE WHEN r_wlen THEN 1 ELSE 0 END) AS mean_word_len,
         sum(CASE WHEN r_topshare THEN 1 ELSE 0 END) AS top_token_share,
         sum(CASE WHEN r_distinct THEN 1 ELSE 0 END) AS distinct_ratio,
         sum(CASE WHEN r_words AND r_wlen AND r_topshare AND r_distinct
             THEN 1 ELSE 0 END) AS keep
  FROM rules
)
SELECT rule, CAST(n_pass AS BIGINT) AS n_pass
FROM agg UNPIVOT (n_pass FOR rule IN
  (words_bounds, mean_word_len, top_token_share, distinct_ratio, keep))
"""


# --------------------------------------------------------------------------
# count-min sketch heavy hitters: the fixed-size frequency sketch (Cormode
# & Muthukrishnan) — D hash rows x W counters, estimate = min over rows.
# --------------------------------------------------------------------------

CMS_DEPTH = 4
CMS_WIDTH = 64
CMS_TOPK = 20


def q_token_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the corpus token stream, evaluated against
    the exact top-``CMS_TOPK`` tokens: the sketch is ``CMS_DEPTH`` x
    ``CMS_WIDTH`` counters built with ONE combinable groupBy (the whole
    point at 100 TB — frequency state is a fixed few KB regardless of
    corpus size, and counter summation is associative so it map-side
    combines), estimates are the row-wise minimum.  CMS guarantees
    estimate >= exact; the gate row carries both so the driver hash
    checks the sketch math, and pytest asserts the one-sided error bound.
    Output (rank, word, n_exact, n_cms)."""
    from .datapipe import _md5_int

    d = load_table(spark, sf_dir, "documents")
    wc = (
        d.select(F.explode(F.split(F.lower(F.trim("text")), " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    seeds = F.array([F.lit(i) for i in range(CMS_DEPTH)])
    counters = (
        wc.select("n", F.explode(seeds).alias("seed"), "word")
        .select(
            "seed",
            F.pmod(
                _md5_int(F.concat(F.col("seed"), F.lit("#"), F.col("word"))),
                F.lit(CMS_WIDTH),
            ).alias("bucket"),
            "n",
        )
        .groupBy("seed", "bucket")
        .agg(F.sum("n").alias("c"))
    )
    w = Window.orderBy(F.desc("n"), F.asc("word"))
    top = wc.select(
        F.row_number().over(w).alias("rank"), "word", F.col("n").alias("n_exact")
    ).where(F.col("rank") <= CMS_TOPK)
    probes = top.select(
        "rank",
        "word",
        "n_exact",
        F.explode(seeds).alias("seed"),
    ).select(
        "rank",
        "word",
        "n_exact",
        "seed",
        F.pmod(
            _md5_int(F.concat(F.col("seed"), F.lit("#"), F.col("word"))),
            F.lit(CMS_WIDTH),
        ).alias("bucket"),
    )
    return (
        probes.join(F.broadcast(counters), ["seed", "bucket"])
        .groupBy("rank", "word", "n_exact")
        .agg(F.min("c").alias("n_cms"))
    )


SQL_TOKEN_CMS = f"""
WITH wc AS (
  SELECT w AS word, count(*) AS n
  FROM documents, unnest(string_split(lower(trim(text)), ' ')) AS t(w)
  GROUP BY w
), seeds AS (
  SELECT unnest(generate_series(0, {CMS_DEPTH - 1})) AS seed
), counters AS (
  SELECT seed,
         CAST(('0x' || substr(md5(seed || '#' || word), 1, 15)) AS BIGINT)
           % {CMS_WIDTH} AS bucket,
         sum(n) AS c
  FROM wc CROSS JOIN seeds
  GROUP BY 1, 2
), top AS (
  SELECT CAST(row_number() OVER (ORDER BY n DESC, word) AS INT) AS rank,
         word, n AS n_exact
  FROM wc
  QUALIFY rank <= {CMS_TOPK}
), probes AS (
  SELECT rank, word, n_exact, seed,
         CAST(('0x' || substr(md5(seed || '#' || word), 1, 15)) AS BIGINT)
           % {CMS_WIDTH} AS bucket
  FROM top CROSS JOIN seeds
)
SELECT rank, word, CAST(n_exact AS BIGINT) AS n_exact,
       CAST(min(c) AS BIGINT) AS n_cms
FROM probes JOIN counters USING (seed, bucket)
GROUP BY rank, word, n_exact
"""


# --------------------------------------------------------------------------
# domain-suffix blocklist filtering (§2.15 row 187): the standard crawl-
# hygiene step (UT1/Dolma-style blocklists) — a host is blocked when ANY
# of its domain suffixes appears on the list, so blocking `h7.example`
# also blocks `sub3.h7.example`.
# Scale posture: each host explodes into its ≤ label-count suffixes (a
# constant ~4-5, never corpus-sized), which broadcast-join against the
# blocklist; verdicts aggregate per host.  No per-row Python, no collect.
# --------------------------------------------------------------------------

_BLOCKLIST = ["h3.example", "h7.example", "sub2.h5.example"]


def _with_sub_urls(d: DataFrame) -> DataFrame:
    """URL fixture extended with a subdomain citation per doc:
    sub(doc_id%5).h(doc_id%23).example (the base fixture's hosts are
    single-label, so suffix matching needs this third URL)."""
    return _with_urls(d).withColumn(
        "text2",
        F.concat(
            F.col("text2"),
            F.lit(" http://sub"),
            (F.col("doc_id") % 5).cast("string"),
            F.lit(".h"),
            (F.col("doc_id") % 23).cast("string"),
            F.lit(".example/c"),
        ),
    )


_SQL_TEXT2_SUB = (
    f"({_SQL_TEXT2}) || ' http://sub' || CAST(doc_id % 5 AS VARCHAR)"
    " || '.h' || CAST(doc_id % 23 AS VARCHAR) || '.example/c'"
)


def q_url_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host blocklist verdicts: (host, n_docs, rule) where ``rule`` is
    the lexically-least matching blocklist suffix (NULL when clean)."""
    d = _with_sub_urls(load_table(spark, sf_dir, "documents"))
    hosts = (
        d.select(
            "doc_id",
            F.explode(
                F.regexp_extract_all("text2", F.lit(_URL_RE), F.lit(1))
            ).alias("host"),
        )
        .distinct()
    )
    parts = F.split(F.col("host"), r"\.")
    suffixes = F.transform(
        F.sequence(F.lit(1), F.size(parts)),
        lambda i: F.concat_ws(
            ".", F.slice(parts, i, F.size(parts) - i + 1)
        ),
    )
    bl = spark.createDataFrame(
        [(r,) for r in _BLOCKLIST], ["rule"]
    )
    per_host = hosts.groupBy("host").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    matched = (
        per_host.select("host", F.explode(suffixes).alias("sfx"))
        .join(F.broadcast(bl), F.col("sfx") == F.col("rule"), "inner")
        .groupBy("host")
        .agg(F.min("rule").alias("rule"))
    )
    return per_host.join(matched, "host", "left").select(
        "host", "n_docs", "rule"
    )


def _sql_blocklist_values() -> str:
    return ", ".join(f"('{r}')" for r in _BLOCKLIST)


SQL_URL_BLOCKLIST = f"""
WITH d AS (SELECT doc_id, {_SQL_TEXT2_SUB} AS text2 FROM documents),
hosts AS (
  SELECT DISTINCT doc_id, h AS host
  FROM d, unnest(regexp_extract_all(text2, '{_URL_RE}', 1)) AS t(h)
), per_host AS (
  SELECT host, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM hosts GROUP BY host
), bl(rule) AS (VALUES {_sql_blocklist_values()}),
sfx AS (
  SELECT host,
         array_to_string(parts[CAST(g.i AS BIGINT):], '.') AS sfx
  FROM (SELECT host, string_split(host, '.') AS parts FROM per_host),
       LATERAL (SELECT unnest(generate_series(1, len(parts))) AS i) g
), matched AS (
  SELECT host, min(rule) AS rule
  FROM sfx JOIN bl ON bl.rule = sfx.sfx
  GROUP BY host
)
SELECT p.host AS host, p.n_docs, m.rule
FROM per_host p LEFT JOIN matched m USING (host)
"""


# --------------------------------------------------------------------------
# Unicode NFC normalization audit (§2.15 row 192): canonical-composition
# normalization is the first transform of any multilingual corpus (so
# 'café' composed and decomposed dedup to one form).  Spark has no built-in
# NFC, so this is the sanctioned slow path done right: one Arrow-batched
# ``pandas_udf`` calling ``unicodedata.normalize`` on whole string columns
# (never per-row Python), checked bit-for-bit against DuckDB's native
# ``nfc_normalize``.  A deterministic fixture appends a decomposed
# ``cafe+U+0301`` to every even doc so both outcomes are exercised.
# Scale posture: a narrow map stage that fuses with the scan; zero shuffle
# before the final (tiny) per-doc projection.
# --------------------------------------------------------------------------

def q_doc_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc NFC audit: (doc_id, changed, len_raw, len_nfc)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def nfc(col: pd.Series) -> pd.Series:
        import unicodedata

        return col.map(lambda s: unicodedata.normalize("NFC", s))

    d = load_table(spark, sf_dir, "documents").withColumn(
        "text4",
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.col("text"), F.lit(" cafe\u0301")),
        ).otherwise(F.col("text")),
    )
    return d.select(
        "doc_id",
        (F.col("text4") != nfc(F.col("text4"))).cast("long").alias("changed"),
        F.length("text4").alias("len_raw"),
        F.length(nfc(F.col("text4"))).alias("len_nfc"),
    )


SQL_DOC_NFC = """
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0 THEN text || ' cafe' || chr(769)
              ELSE text END AS text4
  FROM documents
)
SELECT doc_id,
       CAST(CASE WHEN text4 <> nfc_normalize(text4) THEN 1 ELSE 0 END
            AS BIGINT) AS changed,
       CAST(length(text4) AS INTEGER) AS len_raw,
       CAST(length(nfc_normalize(text4)) AS INTEGER) AS len_nfc
FROM d
"""


# --------------------------------------------------------------------------
# syllable-free readability proxy (§2.15 row 207): mean sentence length
# (words) and mean word length (chars) — the two drivers of every
# readability formula (FKGL/ARI) that survive without a syllable model;
# the composite is an ARI-style linear blend.  Crawl pipelines threshold
# on this to drop boilerplate/table-dump pages.
# --------------------------------------------------------------------------

def _micro_ratio(numer, denom):
    """round(numer/denom · 1e6) as an exact int64 — half-up via
    floor((2·numer·1e6 + denom) / (2·denom)) computed with the remainder
    trick (a − a % b is exactly divisible, so the double division is
    exact for quotients < 2^53).  Requires numer ≥ 0, denom > 0.
    Rounded doubles land on half-ties that Spark and DuckDB resolve
    differently (observed on the ARI blend); integer micro-units are
    bit-identical on both engines by construction."""
    a = F.lit(2000000).cast("long") * numer + denom
    b = F.lit(2).cast("long") * denom
    return ((a - a % b) / b).cast("long")


def q_doc_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per doc: n_sents (non-empty '.'-separated), n_words, mean word
    length and mean sentence length in micro-units (×1e6, int64), and the
    ARI-style score 4.71·chars/word + 0.5·words/sent − 21.43 in
    micro-units.  Pure column expressions, zero shuffle — fuses into the
    scan at 100 TB.  All ratios ship as exact integers (see _micro_ratio)
    so the cross-engine hash can't trip on round-half ties."""
    d = load_table(spark, sf_dir, "documents")
    w = F.split(F.lower(F.trim("text")), " ")
    sents = F.filter(
        F.split(F.lower(F.trim("text")), r"\."),
        lambda s: F.trim(s) != "",
    )
    n_words = F.size(w).cast("long")
    n_chars = F.aggregate(
        w, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    n_sents = F.greatest(F.size(sents), F.lit(1)).cast("long")
    # 4.71·c/w + 0.5·w/s − 21.43 == (47100·c·s + 5000·w² − 214300·w·s)
    # / (10000·w·s): one exact int64 numerator, one positive denominator.
    ari_num = (
        F.lit(47100) * n_chars * n_sents
        + F.lit(5000) * n_words * n_words
        - F.lit(214300) * n_words * n_sents
    )
    ari_den = F.lit(10000).cast("long") * n_words * n_sents
    # _micro_ratio needs numer ≥ 0: shift by +100 (ARI ∈ (−22, ∞) here)
    # and un-shift after — the shift is exact in integer space.
    shifted = _micro_ratio(ari_num + F.lit(100) * ari_den, ari_den)
    return d.select(
        "doc_id",
        F.size(sents).alias("n_sents"),
        F.size(w).alias("n_words"),
        _micro_ratio(n_chars, n_words).alias("cpw_micro"),
        _micro_ratio(n_words, n_sents).alias("wps_micro"),
        (shifted - F.lit(100000000).cast("long")).alias("ari_micro"),
    )


SQL_DOC_READABILITY = """
WITH b AS (
  SELECT doc_id,
         string_split(lower(trim(text)), ' ') AS w,
         len(list_filter(string_split(lower(trim(text)), '.'),
                         s -> trim(s) <> '')) AS ns
  FROM documents
), m AS (
  SELECT doc_id, ns, CAST(len(w) AS BIGINT) AS nw,
         CAST(list_sum(list_transform(w, x -> len(x))) AS BIGINT) AS nc,
         CAST(greatest(ns, 1) AS BIGINT) AS ns1
  FROM b
), n AS (
  SELECT doc_id, ns, nw, nc, ns1,
         47100 * nc * ns1 + 5000 * nw * nw - 214300 * nw * ns1 AS an,
         10000 * nw * ns1 AS ad
  FROM m
)
SELECT doc_id, CAST(ns AS INT) AS n_sents, CAST(nw AS INT) AS n_words,
       (2000000 * nc + nw) // (2 * nw) AS cpw_micro,
       (2000000 * nw + ns1) // (2 * ns1) AS wps_micro,
       (2000000 * (an + 100 * ad) + ad) // (2 * ad) - 100000000 AS ari_micro
FROM n
"""


# --------------------------------------------------------------------------
# hapax legomena rate (§2.15 row 208): the fraction of vocabulary seen
# exactly once — the lexical-richness twin of the Heaps curve (a corpus
# whose hapax rate collapses is saturating or template-heavy).
# --------------------------------------------------------------------------

def q_hapax_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row (vocab, hapax, dis, rate_micro): vocabulary size, once-seen
    and twice-seen type counts, hapax/vocab ×1e6 as exact int64 (see
    _micro_ratio).  Two stacked combinable groupBys over the exploded
    token stream — the word-count shuffle partial-aggregates map-side;
    the type-frequency table is vocab-sized."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(F.split(F.lower(F.trim("text")), " ")).alias("w"))
    wc = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    agg = wc.agg(
        F.count(F.lit(1)).alias("vocab"),
        F.sum((F.col("c") == 1).cast("long")).alias("hapax"),
        F.sum((F.col("c") == 2).cast("long")).alias("dis"),
    )
    return agg.select(
        "vocab", "hapax", "dis",
        _micro_ratio(F.col("hapax"), F.col("vocab")).alias("rate_micro"),
    )


SQL_HAPAX_RATE = """
WITH tok AS (
  SELECT unnest(string_split(lower(trim(text)), ' ')) AS w FROM documents
), wc AS (
  SELECT w, count(*) AS c FROM tok GROUP BY w
), a AS (
  SELECT count(*) AS vocab,
         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
         CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS dis
  FROM wc
)
SELECT vocab, hapax, dis,
       (2000000 * hapax + vocab) // (2 * vocab) AS rate_micro
FROM a
"""


# --------------------------------------------------------------------------
# Heaps'-law vocabulary growth (§2.15 row 193): V(N) ≈ k·N^β over the
# token stream in (doc_id, position) order — the curve that sizes
# tokenizer vocabularies and predicts how much new text adds new types.
# Scale posture: per-doc lengths are a hash agg; global token offsets are
# a TWO-LEVEL ordered prefix sum — cumsum within order-preserving range
# shards (floor(doc_id / B), parallel across shards) plus a shard-base
# cumsum over the ~n/B per-shard totals (8-byte rows, the only serialized
# pass) — never a single-task global window over per-doc rows.  The
# first-occurrence table is vocabulary-sized, and the checkpoint join is
# vocab × ≤11 rows.  β comes from the closed-form log-log least squares
# over the checkpoints — no iteration.
# --------------------------------------------------------------------------

_HEAPS_CPS = [50, 100, 200, 400, 800, 1600, 3200, 6400, 12800,
              25600, 51200]
_HEAPS_SHARD = 1024  # docs per range shard for the two-level prefix sum


def q_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary size at fixed token-count checkpoints plus the fitted
    Heaps exponent.  Output (n_tokens, vocab, beta) — beta identical on
    every row by construction."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.trim("text")), " ")).alias("pos", "word"),
    )
    lens = (
        words.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("len"))
        .withColumn("shard", F.floor(F.col("doc_id") / _HEAPS_SHARD))
    )
    # two-level ordered prefix sum: within-shard cumsum is parallel across
    # range shards; the base cumsum runs over one tiny row per shard
    within = F.coalesce(
        F.sum("len").over(
            Window.partitionBy("shard")
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    base = (
        lens.groupBy("shard")
        .agg(F.sum("len").alias("stot"))
        .withColumn(
            "base",
            F.coalesce(
                F.sum("stot").over(
                    Window.orderBy("shard").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("shard", "base")
    )
    off = lens.withColumn("within", within).join(
        F.broadcast(base), "shard"
    ).select("doc_id", (F.col("base") + F.col("within")).alias("off"))
    gpos = words.join(off, "doc_id").select(
        "word", (F.col("off") + F.col("pos") + 1).alias("gpos")
    )
    first = gpos.groupBy("word").agg(F.min("gpos").alias("first_pos"))
    total = lens.agg(F.sum("len").alias("total"))
    cps = (
        spark.createDataFrame([(n,) for n in _HEAPS_CPS], "n_tokens long")
        .crossJoin(F.broadcast(total))
        .where(F.col("n_tokens") <= F.col("total"))
        .select("n_tokens")
    )
    curve = (
        F.broadcast(cps)
        .join(first, F.col("first_pos") <= F.col("n_tokens"))
        .groupBy("n_tokens")
        .agg(F.count(F.lit(1)).alias("vocab"))
    )
    beta = curve.agg(
        (
            F.covar_pop(F.log("n_tokens"), F.log("vocab"))
            / F.var_pop(F.log("n_tokens"))
        ).alias("beta")
    )
    return curve.crossJoin(F.broadcast(beta)).select(
        "n_tokens", "vocab", F.round("beta", 6).alias("beta")
    )


SQL_HEAPS_LAW = f"""
WITH words AS (
  SELECT doc_id, g.i - 1 AS pos, w[g.i] AS word
  FROM (SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents),
       LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) g
), lens AS (
  SELECT doc_id, count(*) AS len FROM words GROUP BY doc_id
), off AS (
  SELECT doc_id,
         coalesce(sum(len) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
  FROM lens
), first AS (
  SELECT word, min(off + pos + 1) AS first_pos
  FROM words JOIN off USING (doc_id) GROUP BY word
), cps AS (
  SELECT n_tokens FROM (VALUES {", ".join(f"({n})" for n in _HEAPS_CPS)}) t(n_tokens)
  WHERE n_tokens <= (SELECT sum(len) FROM lens)
), curve AS (
  SELECT n_tokens, CAST(count(*) AS BIGINT) AS vocab
  FROM cps JOIN first ON first_pos <= n_tokens
  GROUP BY n_tokens
), fit AS (
  SELECT covar_pop(ln(vocab), ln(n_tokens)) / var_pop(ln(n_tokens)) AS beta
  FROM curve
)
SELECT CAST(n_tokens AS BIGINT) AS n_tokens, vocab, round(beta, 6) AS beta
FROM curve, fit
"""


# --------------------------------------------------------------------------
# corpus distinct-n diversity (§2.15 row 215): the distinct-1/2/3 metrics
# of Li et al. — distinct n-grams / total n-grams over the whole corpus.
# The standard degenerate-text audit for generated corpora: self-repeating
# model output collapses distinct-2/3 long before unigram stats move.
# Complements doc_repetition (per-doc top-token share) and hapax_rate
# (type-frequency tail) with a corpus-level phrase-diversity number.
# --------------------------------------------------------------------------

def q_doc_distinct_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three rows (n, total_grams, distinct_grams, distinct_micro) for
    n = 1, 2, 3.  Each n is a bounded explode (≤ one gram per token) into
    a count + count-distinct — the count partial-aggregates map-side and
    the distinct dedups on the gram key, so the shuffle carries distinct
    grams, not the corpus.  Docs shorter than n emit zero grams (guarded
    sequence — Spark's sequence(1, 0) would step DOWN).  The ratio ships
    as exact int64 micro-units (_micro_ratio), bit-identical cross-engine."""
    d = load_table(spark, sf_dir, "documents")
    w = d.select(F.split(F.lower(F.trim("text")), " ").alias("w"))
    parts = []
    for n in (1, 2, 3):
        if n == 1:
            grams = w.select(F.explode("w").alias("gram"))
        else:
            starts = F.when(
                F.size("w") >= n,
                F.sequence(F.lit(1), F.size("w") - (n - 1)),
            ).otherwise(F.array().cast("array<int>"))
            def _gram(k: int):
                # one-arg lambda: F.transform would bind a second
                # parameter to the array INDEX column, clobbering k
                return lambda i: F.concat_ws(
                    " ",
                    *[F.element_at(F.col("w"), i + j) for j in range(k)],
                )

            grams = w.select(
                F.explode(F.transform(starts, _gram(n))).alias("gram")
            )
        agg = grams.agg(
            F.count(F.lit(1)).alias("total_grams"),
            F.countDistinct("gram").alias("distinct_grams"),
        ).select(
            F.lit(n).cast("int").alias("n"),
            "total_grams",
            "distinct_grams",
            F.when(
                F.col("total_grams") > 0,
                _micro_ratio(F.col("distinct_grams"), F.col("total_grams")),
            ).otherwise(F.lit(0).cast("long")).alias("distinct_micro"),
        )
        parts.append(agg)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


SQL_DOC_DISTINCT_NGRAMS = """
WITH w AS (
  SELECT string_split(lower(trim(text)), ' ') AS w FROM documents
), g1 AS (
  SELECT unnest(w) AS gram FROM w
), g2 AS (
  SELECT unnest(list_transform(
           generate_series(1, greatest(len(w) - 1, 0)),
           i -> concat_ws(' ', w[i], w[i+1])
         )) AS gram FROM w
), g3 AS (
  SELECT unnest(list_transform(
           generate_series(1, greatest(len(w) - 2, 0)),
           i -> concat_ws(' ', w[i], w[i+1], w[i+2])
         )) AS gram FROM w
), u AS (
  SELECT 1 AS n, count(*) AS total_grams,
         CAST(count(DISTINCT gram) AS BIGINT) AS distinct_grams FROM g1
  UNION ALL
  SELECT 2, count(*), CAST(count(DISTINCT gram) AS BIGINT) FROM g2
  UNION ALL
  SELECT 3, count(*), CAST(count(DISTINCT gram) AS BIGINT) FROM g3
)
SELECT CAST(n AS INT) AS n, total_grams, distinct_grams,
       CASE WHEN total_grams > 0
            THEN (2000000 * distinct_grams + total_grams)
                   // (2 * total_grams)
            ELSE 0 END AS distinct_micro
FROM u
"""


# --------------------------------------------------------------------------
# per-doc trigram novelty (§2.15 row 270): for each document, the
# fraction of its DISTINCT trigrams that appear in NO other document
# (corpus document-frequency 1).  The template/boilerplate detector that
# complements doc_distinct_ngrams: corpus-level distinct-3 can stay high
# while individual mirrored pages score ~0 novelty, and it is exactly the
# docs at the BOTTOM of this ranking a crawl pipeline drops first.
#
# Scale posture: per-doc distinct trigrams -> one (doc, gram) dedup
# shuffle; the corpus DF table is a map-side-combinable hash agg over the
# same key; the join back is co-partitioned on gram (AQE skew-join covers
# the stopword-phrase head); the per-doc rollup is a second combinable
# agg.  Novelty ships as exact int64 micro-units (_micro_ratio) so the
# cross-engine hash cannot trip on float half-ties; output is a bounded
# top-k (lowest novelty first — the drop candidates), total-ordered by
# (novelty_micro, doc_id).
# --------------------------------------------------------------------------

_NOVELTY_TOPK = 30


def q_doc_trigram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-``_NOVELTY_TOPK`` docs by trigram novelty:
    (doc_id, n_tri, n_unique, novelty_micro).  Docs shorter than 3 words
    emit no trigrams and are excluded (guarded sequence — Spark's
    sequence(1, 0) would step DOWN, ADVICE r03 #1 pattern)."""
    d = load_table(spark, sf_dir, "documents")
    w = d.select("doc_id", F.split(F.lower(F.trim("text")), " ").alias("w"))
    starts = F.when(
        F.size("w") >= 3, F.sequence(F.lit(1), F.size("w") - 2)
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(
        starts,
        lambda i: F.concat_ws(
            " ",
            F.element_at(F.col("w"), i),
            F.element_at(F.col("w"), i + 1),
            F.element_at(F.col("w"), i + 2),
        ),
    )
    tri = w.select("doc_id", F.explode(grams).alias("gram")).distinct()
    dft = tri.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    per = (
        tri.join(dft, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tri"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_unique"),
        )
    )
    out = per.select(
        "doc_id",
        "n_tri",
        "n_unique",
        _micro_ratio(F.col("n_unique"), F.col("n_tri")).alias("novelty_micro"),
    )
    return out.orderBy("novelty_micro", "doc_id").limit(_NOVELTY_TOPK)


SQL_DOC_TRIGRAM_NOVELTY = f"""
WITH w AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents
), tri AS (
  SELECT DISTINCT doc_id, gram FROM (
    SELECT doc_id,
           unnest(list_transform(
             generate_series(1, greatest(len(w) - 2, 0)),
             i -> concat_ws(' ', w[i], w[i+1], w[i+2])
           )) AS gram
    FROM w)
), dft AS (
  SELECT gram, count(*) AS df FROM tri GROUP BY gram
), per AS (
  SELECT t.doc_id,
         CAST(count(*) AS BIGINT) AS n_tri,
         CAST(sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_unique
  FROM tri t JOIN dft d USING (gram) GROUP BY t.doc_id
)
SELECT doc_id, n_tri, n_unique,
       (2000000 * n_unique + n_tri) // (2 * n_tri) AS novelty_micro
FROM per ORDER BY novelty_micro, doc_id LIMIT {_NOVELTY_TOPK}
"""


# --------------------------------------------------------------------------
# Anchor-text aggregation per target host (§2.15 row 226): the classic
# web-graph inversion — text flows along hyperlinks from the CITING page
# to the CITED host, and the aggregate of incoming anchor terms becomes a
# ranking / training signal for the target (how Google indexed pages it
# never crawled).  Link fixture (the webpipe discipline — the synthetic
# corpus carries no links): every doc cites host h(doc_id%23).example
# with its first 4 words as the anchor, and h((7*doc_id+3)%23).example
# with words 5..8.
# --------------------------------------------------------------------------

_ANCHOR_TOPK = 5


def q_host_anchor_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``_ANCHOR_TOPK`` incoming anchor terms per target host, with
    per-host link/doc totals carried on each row.

    Scale posture: the link fixture is a pure column expression; the term
    flow is explode → one combinable groupBy((host, term)) whose result
    is host-vocabulary-sized, not corpus-sized; the per-host top-k is a
    window over that small aggregate; totals join back broadcast-sized.
    Nothing in the plan grows faster than (hosts x anchor vocabulary).
    Output (host, rk, term, n, n_links, n_docs)."""
    d = load_table(spark, sf_dir, "documents")
    w = F.split(F.lower(F.trim("text")), " ")
    host1 = F.concat(
        F.lit("h"), (F.col("doc_id") % 23).cast("string"), F.lit(".example")
    )
    host2 = F.concat(
        F.lit("h"),
        ((F.col("doc_id") * 7 + 3) % 23).cast("string"),
        F.lit(".example"),
    )
    links = d.select(
        "doc_id", host1.alias("host"), F.slice(w, 1, 4).alias("anchor")
    ).unionAll(
        d.select(
            "doc_id", host2.alias("host"), F.slice(w, 5, 4).alias("anchor")
        )
    )
    terms = links.select(
        "doc_id", "host", F.explode("anchor").alias("term")
    ).where(F.col("term") != "")
    counts = terms.groupBy("host", "term").agg(F.count(F.lit(1)).alias("n"))
    totals = links.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_links"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    wk = Window.partitionBy("host").orderBy(F.desc("n"), F.asc("term"))
    return (
        counts.withColumn("rk", F.row_number().over(wk))
        .where(F.col("rk") <= _ANCHOR_TOPK)
        .join(F.broadcast(totals), "host")
        .select("host", "rk", "term", "n", "n_links", "n_docs")
    )


SQL_HOST_ANCHOR_TERMS = f"""
WITH w AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS ws FROM documents
), links AS (
  SELECT doc_id,
         'h' || CAST(doc_id % 23 AS VARCHAR) || '.example' AS host,
         list_slice(ws, 1, 4) AS anchor
  FROM w
  UNION ALL
  SELECT doc_id,
         'h' || CAST((doc_id * 7 + 3) % 23 AS VARCHAR) || '.example' AS host,
         list_slice(ws, 5, 8) AS anchor
  FROM w
), terms AS (
  SELECT doc_id, host, t.term
  FROM links, unnest(anchor) AS t(term)
  WHERE t.term <> ''
), counts AS (
  SELECT host, term, CAST(count(*) AS BIGINT) AS n
  FROM terms GROUP BY host, term
), totals AS (
  SELECT host, CAST(count(*) AS BIGINT) AS n_links,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM links GROUP BY host
)
SELECT c.host, CAST(rk AS INT) AS rk, term, n, n_links, n_docs
FROM (
  SELECT host, term, n,
         row_number() OVER (PARTITION BY host
                            ORDER BY n DESC, term) AS rk
  FROM counts
) c JOIN totals t ON t.host = c.host
WHERE rk <= {_ANCHOR_TOPK}
"""


# --------------------------------------------------------------------------
# Crawl-budget apportionment (§2.15 row 229): split a fixed per-cycle
# fetch budget across hosts proportionally to their pending-URL counts
# using the largest-remainder (Hamilton) method — the deterministic
# politeness scheduler a crawler runs every cycle.  Exact integer math
# end-to-end: base = floor(B*n/N), leftovers go to the largest integer
# remainders (B*n - base*N) with host tiebreak, so Σ alloc == B always.
# --------------------------------------------------------------------------

_CRAWL_BUDGET = 1000


def q_crawl_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder crawl-budget apportionment over the URL fixture's
    per-host pending counts.

    Scale posture: per-host counts are one combinable groupBy over the
    extracted host stream; N and Σ base are 1-row broadcast aggregates
    (no collect); the remainder ranking is a window over the HOSTS-sized
    aggregate, not the URL stream — at 100 TB hosts number in the
    millions while URLs number in the trillions, and only the former is
    sorted.  Output (host, n_urls, base_alloc, extra, alloc)."""
    d = _with_urls(load_table(spark, sf_dir, "documents"))
    hosts = d.select(
        F.explode(
            F.regexp_extract_all("text2", F.lit(_URL_RE), F.lit(1))
        ).alias("host")
    )
    counts = hosts.groupBy("host").agg(F.count(F.lit(1)).alias("n_urls"))
    tot = counts.agg(F.sum("n_urls").alias("n_total"))
    based = (
        counts.crossJoin(F.broadcast(tot))
        .withColumn(
            "base_alloc",
            F.floor(
                F.lit(_CRAWL_BUDGET) * F.col("n_urls") / F.col("n_total")
            ).cast("long"),
        )
        .withColumn(
            "rem",
            F.lit(_CRAWL_BUDGET) * F.col("n_urls")
            - F.col("base_alloc") * F.col("n_total"),
        )
    )
    leftover = based.agg(
        (F.lit(_CRAWL_BUDGET) - F.sum("base_alloc")).alias("n_extra")
    )
    wr = Window.orderBy(F.desc("rem"), F.asc("host"))
    return (
        based.withColumn("rk", F.row_number().over(wr))
        .crossJoin(F.broadcast(leftover))
        .select(
            "host",
            "n_urls",
            "base_alloc",
            (F.col("rk") <= F.col("n_extra")).cast("long").alias("extra"),
            (
                F.col("base_alloc")
                + (F.col("rk") <= F.col("n_extra")).cast("long")
            ).alias("alloc"),
        )
    )


SQL_CRAWL_BUDGET = f"""
WITH d AS (SELECT doc_id, {_SQL_TEXT2} AS text2 FROM documents),
hosts AS (
  SELECT h AS host
  FROM d, unnest(regexp_extract_all(text2, '{_URL_RE}', 1)) AS t(h)
), counts AS (
  SELECT host, CAST(count(*) AS BIGINT) AS n_urls FROM hosts GROUP BY host
), tot AS (
  SELECT CAST(sum(n_urls) AS BIGINT) AS n_total FROM counts
), based AS (
  SELECT host, n_urls,
         CAST(floor({_CRAWL_BUDGET} * n_urls / t.n_total) AS BIGINT)
           AS base_alloc,
         {_CRAWL_BUDGET} * n_urls
           - CAST(floor({_CRAWL_BUDGET} * n_urls / t.n_total) AS BIGINT)
             * t.n_total AS rem
  FROM counts CROSS JOIN tot t
), leftover AS (
  SELECT {_CRAWL_BUDGET} - CAST(sum(base_alloc) AS BIGINT) AS n_extra
  FROM based
)
SELECT host, n_urls, base_alloc,
       CAST(CASE WHEN rk <= l.n_extra THEN 1 ELSE 0 END AS BIGINT) AS extra,
       base_alloc
         + CAST(CASE WHEN rk <= l.n_extra THEN 1 ELSE 0 END AS BIGINT)
         AS alloc
FROM (
  SELECT host, n_urls, base_alloc,
         row_number() OVER (ORDER BY rem DESC, host) AS rk
  FROM based
) CROSS JOIN leftover l
"""


def registry():
    return {
        "url_host_edges": (q_url_host_edges, SQL_URL_HOST_EDGES),
        "host_anchor_terms": (q_host_anchor_terms, SQL_HOST_ANCHOR_TERMS),
        "crawl_budget": (q_crawl_budget, SQL_CRAWL_BUDGET),
        "url_blocklist": (q_url_blocklist, SQL_URL_BLOCKLIST),
        "doc_pii": (q_doc_pii, SQL_DOC_PII),
        "doc_repetition": (q_doc_repetition, SQL_DOC_REPETITION),
        "token_zipf": (q_token_zipf, SQL_TOKEN_ZIPF),
        "host_pagerank": (q_host_pagerank, host_pagerank_sql()),
        "rank_weighted_sample": (q_rank_weighted_sample, rank_weighted_sample_sql()),
        "host_spam_mass": (q_host_spam_mass, host_spam_mass_sql()),
        "doc_entropy": (q_doc_entropy, SQL_DOC_ENTROPY),
        "url_dedup": (q_url_dedup, SQL_URL_DEDUP),
        "doc_line_dedup": (q_doc_line_dedup, SQL_DOC_LINE_DEDUP),
        "doc_gopher_rules": (q_doc_gopher_rules, SQL_DOC_GOPHER_RULES),
        "token_cms_topk": (q_token_cms, SQL_TOKEN_CMS),
        "doc_nfc": (q_doc_nfc, SQL_DOC_NFC),
        "heaps_law": (q_heaps_law, SQL_HEAPS_LAW),
        "doc_readability": (q_doc_readability, SQL_DOC_READABILITY),
        "hapax_rate": (q_hapax_rate, SQL_HAPAX_RATE),
        "doc_distinct_ngrams": (q_doc_distinct_ngrams, SQL_DOC_DISTINCT_NGRAMS),
        "doc_trigram_novelty": (q_doc_trigram_novelty, SQL_DOC_TRIGRAM_NOVELTY),
    }
