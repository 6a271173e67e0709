"""Training-data pipeline operators over the documents/embeddings tables.

Large-scale corpus operations a 100 TB training pipeline needs, each exposed
as a driver-gate query with (where expressible) an EXACT DuckDB oracle:

- exact dedup (hash groupBy)
- MinHash signatures + LSH-banded near-dup pairs with exact-Jaccard verify
- SimHash 60-bit fingerprints
- token / quality statistics, language-ID heuristic, document fingerprints
- brute-force cosine top-k ANN baseline (list_cosine_similarity oracle)

Cross-system determinism trick: every hash is the first 15 hex digits of
md5 parsed as int64 — Spark ``conv(substring(md5(x),1,15),16,10)`` ==
DuckDB ``CAST('0x'||substr(md5(x),1,15) AS BIGINT)`` — so signature values,
LSH buckets and fingerprints are bit-identical across engines (xxhash64 has
no DuckDB twin).  At production scale the same pipelines run with xxhash64
(cheaper); the md5 path is the verification mode.

Scale notes: everything is shuffle-bounded DataFrame code — shingle
explosion is O(tokens); LSH candidate pairs are bounded by band-bucket
sizes, never the O(n^2) document cross product; ANN brute force is the
small-scale baseline with the LSH-bucketed variant as the scale path
(ann.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .io import load_table

# hash parameters shared by Spark + SQL sides
N_HASHES = 16
BAND_ROWS = 2          # rows per LSH band -> 8 bands
JACCARD_TAU = 0.5
SIMHASH_BITS = 60      # fits int64 via the 15-hex-digit md5 prefix

STOPWORDS_EN = ["the", "a", "of", "and", "to", "in", "is", "on", "for", "with"]
STOPWORDS_DE = ["der", "die", "das", "und", "ist", "von", "mit", "auf", "ein", "zu"]
STOPWORDS_FR = ["le", "la", "les", "et", "est", "de", "un", "une", "pour", "dans"]


def _md5_int(col):
    """First 15 hex digits of md5 as int64 (same value in DuckDB)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _sql_md5_int(expr: str) -> str:
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def _words(col):
    return F.split(F.lower(F.trim(col)), " ")


def _gram_starts(w, n: int):
    """1-based start indices of the word-``n``-grams over array column ``w``;
    EMPTY when the doc has fewer than ``n`` words.  The guard is load-bearing:
    Spark's ``sequence(1, 0)`` auto-steps DOWN to ``[1, 0]`` (unlike DuckDB's
    empty ``generate_series(1, 0)``), so an unguarded short doc both crashes
    ``element_at(w, 0)`` and diverges from the oracle (ADVICE r03 #1)."""
    return F.when(
        F.size(w) >= n, F.sequence(F.lit(1), F.size(w) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))


# --------------------------------------------------------------------------
# dedup
# --------------------------------------------------------------------------

def doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: canonical doc (min doc_id) + multiplicity per text hash."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(_md5_int(F.col("text")).alias("text_hash"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


SQL_DOC_EXACT_DEDUP = f"""
SELECT {_sql_md5_int('text')} AS text_hash,
       min(doc_id) AS keep_doc_id, count(*) AS n_copies
FROM documents GROUP BY 1
"""


def _shingles_df(spark, sf_dir):
    """Distinct word-3-gram shingles per doc."""
    d = load_table(spark, sf_dir, "documents")
    w = d.select("doc_id", _words(F.col("text")).alias("w"))
    sh = w.select(
        "doc_id",
        F.explode(
            F.transform(
                _gram_starts(F.col("w"), 3),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(F.col("w"), i),
                    F.element_at(F.col("w"), i + 1),
                    F.element_at(F.col("w"), i + 2),
                ),
            )
        ).alias("shingle"),
    )
    return sh.distinct()


_SQL_SHINGLES = """
SELECT DISTINCT doc_id, shingle FROM (
  SELECT doc_id,
         unnest(list_transform(
           generate_series(1, greatest(len(w) - 2, 0)),
           i -> concat_ws(' ', w[i], w[i+1], w[i+2])
         )) AS shingle
  FROM (SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents)
)
"""


def doc_minhash(
    spark: SparkSession, sf_dir: str, sh: DataFrame | None = None
) -> DataFrame:
    """MinHash signatures: (doc_id, seed, minh) for seeds 0..N_HASHES-1.

    ``sh``: optional precomputed shingle table (callers that consume the
    shingles more than once materialize it and pass it in, so the
    explode+hash pass runs exactly once — guide §2.4)."""
    if sh is None:
        sh = _shingles_df(spark, sf_dir)
    seeds = spark.range(N_HASHES).select(F.col("id").cast("int").alias("seed"))
    return (
        sh.crossJoin(F.broadcast(seeds))
        .select(
            "doc_id",
            "seed",
            _md5_int(F.concat_ws(":", F.col("seed"), F.col("shingle"))).alias("h"),
        )
        .groupBy("doc_id", "seed")
        .agg(F.min("h").alias("minh"))
    )


SQL_DOC_MINHASH = f"""
WITH sh AS ({_SQL_SHINGLES}),
hs AS (
  SELECT doc_id, seed,
         {_sql_md5_int("concat_ws(':', seed, shingle)")} AS h
  FROM sh CROSS JOIN (SELECT unnest(generate_series(0, {N_HASHES - 1})) AS seed)
)
SELECT doc_id, seed, min(h) AS minh FROM hs GROUP BY doc_id, seed
"""


def _lsh_candidates(
    spark: SparkSession, sf_dir: str, sh: DataFrame | None = None
) -> DataFrame:
    """MinHash-LSH candidate pairs (doc_a < doc_b): signature -> band keys
    (rows-per-band minhashes concatenated) -> bucket self-join.  Shared
    blocking for every rerank flavor; never touches the O(n^2) pair space.

    The band table feeds BOTH sides of the bucket self-join; left lazy,
    Catalyst re-executes the whole shingle->minhash->band derivation once
    per side (no exchange reuse across the self-join), so it is eagerly
    materialized (guide §2.4)."""
    sig = doc_minhash(spark, sf_dir, sh=sh)
    bands = (
        sig.withColumn("band", (F.col("seed") / BAND_ROWS).cast("int"))
        .groupBy("doc_id", "band")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("seed", "minh"))),
                    lambda s: s["minh"].cast("string"),
                ),
            ).alias("band_key")
        )
        .localCheckpoint()
    )
    b1 = bands.select(F.col("doc_id").alias("doc_a"), "band", "band_key")
    b2 = bands.select(F.col("doc_id").alias("doc_b"), "band", "band_key")
    return (
        b1.join(b2, ["band", "band_key"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def doc_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-banded near-duplicate pairs, verified by exact shingle Jaccard.

    Candidates from :func:`_lsh_candidates`, then exact Jaccard >= TAU."""
    # ONE shingle pass: the materialized table feeds the minhash chain AND
    # the exact-Jaccard rerank sets (guide §2.4).
    sh = _shingles_df(spark, sf_dir).localCheckpoint()
    cand = _lsh_candidates(spark, sf_dir, sh=sh)
    sets = sh.groupBy("doc_id").agg(
        F.collect_set("shingle").alias("s")
    )
    j = (
        cand.join(sets.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("sa")), "doc_a")
        .join(sets.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("sb")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.size(F.array_intersect("sa", "sb"))
                / F.size(F.array_union("sa", "sb"))
            ).alias("jacc"),
        )
        .where(F.col("jacc") >= JACCARD_TAU)
        .select("doc_a", "doc_b", F.round("jacc", 6).alias("jaccard"))
    )
    return j


SQL_DOC_NEAR_DUPS = f"""
WITH sh AS ({_SQL_SHINGLES}),
hs AS (
  SELECT doc_id, seed,
         {_sql_md5_int("concat_ws(':', seed, shingle)")} AS h
  FROM sh CROSS JOIN (SELECT unnest(generate_series(0, {N_HASHES - 1})) AS seed)
),
sig AS (SELECT doc_id, seed, min(h) AS minh FROM hs GROUP BY doc_id, seed),
bands AS (
  SELECT doc_id, CAST(seed // {BAND_ROWS} AS INT) AS band,  -- // floors like Spark's double->int cast; / would ROUND (seed 1 -> band 1)
         string_agg(CAST(minh AS VARCHAR), ',' ORDER BY seed) AS band_key
  FROM sig GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT b1.doc_id AS doc_a, b2.doc_id AS doc_b
  FROM bands b1 JOIN bands b2
    ON b1.band = b2.band AND b1.band_key = b2.band_key AND b1.doc_id < b2.doc_id
),
sets AS (SELECT doc_id, list(DISTINCT shingle) AS s FROM sh GROUP BY doc_id)
SELECT doc_a, doc_b, round(jacc, 6) AS jaccard FROM (
  SELECT doc_a, doc_b,
         CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
           / len(list_distinct(list_concat(sa.s, sb.s))) AS jacc
  FROM cand
  JOIN sets sa ON sa.doc_id = cand.doc_a
  JOIN sets sb ON sb.doc_id = cand.doc_b
) WHERE jacc >= {JACCARD_TAU}
"""


EDIT_SIM_TAU = 0.5  # normalized edit similarity threshold for dup pairs


def doc_edit_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-duplicates: the same MinHash-LSH blocking as
    doc_near_dups, reranked by exact Levenshtein similarity
    ``1 - dist/max(len_a, len_b)`` — the character-level dup criterion used
    when token-set Jaccard is too coarse (reorderings score high on Jaccard
    but low here).  Levenshtein is O(len_a*len_b) per pair, so at 100 TB it
    only ever runs on the LSH-blocked candidate list (corpus-size-linear),
    never the O(n^2) pair space; the distance itself is JVM-side
    (``F.levenshtein``), no Python in the loop."""
    cand = _lsh_candidates(spark, sf_dir)
    t = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.lower(F.trim("text")).alias("t")
    )
    sim = F.lit(1.0) - F.levenshtein("ta", "tb") / F.greatest(
        F.length("ta"), F.length("tb"), F.lit(1)
    )
    return (
        cand.join(t.select(F.col("doc_id").alias("doc_a"), F.col("t").alias("ta")), "doc_a")
        .join(t.select(F.col("doc_id").alias("doc_b"), F.col("t").alias("tb")), "doc_b")
        .select("doc_a", "doc_b", sim.alias("sim"))
        .where(F.col("sim") >= EDIT_SIM_TAU)
        .select("doc_a", "doc_b", F.round("sim", 6).alias("edit_sim"))
    )


SQL_DOC_EDIT_DUPS = f"""
WITH sh AS ({_SQL_SHINGLES}),
hs AS (
  SELECT doc_id, seed,
         {_sql_md5_int("concat_ws(':', seed, shingle)")} AS h
  FROM sh CROSS JOIN (SELECT unnest(generate_series(0, {N_HASHES - 1})) AS seed)
),
sig AS (SELECT doc_id, seed, min(h) AS minh FROM hs GROUP BY doc_id, seed),
bands AS (
  SELECT doc_id, CAST(seed // {BAND_ROWS} AS INT) AS band,  -- // floors like Spark's double->int cast; / would ROUND (seed 1 -> band 1)
         string_agg(CAST(minh AS VARCHAR), ',' ORDER BY seed) AS band_key
  FROM sig GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT b1.doc_id AS doc_a, b2.doc_id AS doc_b
  FROM bands b1 JOIN bands b2
    ON b1.band = b2.band AND b1.band_key = b2.band_key AND b1.doc_id < b2.doc_id
),
t AS (SELECT doc_id, lower(trim(text)) AS t FROM documents)
SELECT doc_a, doc_b, round(sim, 6) AS edit_sim FROM (
  SELECT doc_a, doc_b,
         1.0 - CAST(levenshtein(ta.t, tb.t) AS DOUBLE)
             / greatest(length(ta.t), length(tb.t), 1) AS sim
  FROM cand
  JOIN t ta ON ta.doc_id = cand.doc_a
  JOIN t tb ON tb.doc_id = cand.doc_b
) WHERE sim >= {EDIT_SIM_TAU}
"""


def doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprint: sign-sum of word-hash bits, packed to int64."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(_words(F.col("text"))).alias("word")
    ).withColumn("h", _md5_int(F.col("word")))
    bit_sums = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(SIMHASH_BITS)
        ]
    )
    packed = bit_sums.select(
        "doc_id",
        sum(
            (F.when(F.col(f"b{i}") > 0, F.lit(2 ** i)).otherwise(F.lit(0)))
            for i in range(SIMHASH_BITS)
        ).cast("long").alias("simhash"),
    )
    return packed


SQL_DOC_SIMHASH = f"""
WITH tok AS (
  SELECT doc_id, {_sql_md5_int('word')} AS h FROM (
    SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS word
    FROM documents
  )
)
SELECT doc_id,
       CAST({' + '.join(f"(CASE WHEN sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) > 0 THEN {2**i} ELSE 0 END)" for i in range(SIMHASH_BITS))} AS BIGINT) AS simhash
FROM tok GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# SimHash near-dup PAIRS via pigeonhole band blocking (Manku/Jain/Sarma,
# WWW'07 — the production web-dedup design): split the 60-bit signature
# into 4 bands of 15 bits; any pair within Hamming distance 3 must agree
# on >=1 whole band (4 bands > 3 flipped bits), so the band-bucket
# equi-join is a LOSSLESS candidate generator and the exact
# bit_count(xor) filter never misses a pair.  Scale shape: candidates =
# sum over (band, value) buckets of |bucket|^2 — never the O(n^2) cross
# join; a crawl-scale corpus adds a max-bucket guard exactly like the
# MinHash LSH path (doc_near_dups).
# --------------------------------------------------------------------------

_SH_BANDS = 4
_SH_BAND_BITS = 15          # 4 x 15 == SIMHASH_BITS
_SH_HAM_MAX = 3             # bands - 1: the pigeonhole guarantee boundary


def simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All doc pairs with SimHash Hamming distance <= 3, found via the
    4x15-bit pigeonhole band join.  Output (doc_a, doc_b, hamming)."""
    sh = doc_simhash(spark, sf_dir)
    mask = (1 << _SH_BAND_BITS) - 1
    bands = sh.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(*[
                F.shiftright(F.col("simhash"), _SH_BAND_BITS * j)
                .bitwiseAND(F.lit(mask))
                for j in range(_SH_BANDS)
            ])
        ).alias("band", "bval"),
    )
    a = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sha"),
        "band", "bval",
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("shb"),
        "band", "bval",
    )
    cand = (
        a.join(b, ["band", "bval"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sha", "shb")
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming",
            F.bit_count(F.col("sha").bitwiseXOR(F.col("shb"))).cast("long"),
        )
        .where(F.col("hamming") <= _SH_HAM_MAX)
        .select("doc_a", "doc_b", "hamming")
    )


SQL_SIMHASH_PAIRS = f"""
WITH sp_sh AS ({SQL_DOC_SIMHASH}),
sp_b AS (
  SELECT doc_id, simhash, j AS band,
         (simhash >> ({_SH_BAND_BITS} * j)) & {(1 << _SH_BAND_BITS) - 1} AS bval
  FROM sp_sh, unnest(generate_series(0, {_SH_BANDS - 1})) AS t(j)
), sp_c AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sha, b.simhash AS shb
  FROM sp_b a
  JOIN sp_b b ON b.band = a.band AND b.bval = a.bval AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sha, shb)) AS BIGINT) AS hamming
FROM sp_c WHERE bit_count(xor(sha, shb)) <= {_SH_HAM_MAX}
"""


# --------------------------------------------------------------------------
# winnowing fingerprints (Schleimer/Wilkerson/Aiken SIGMOD'03 — the MOSS
# local document fingerprinting algorithm): hash every word-5-gram, slide
# a window of 4 consecutive gram hashes, and select the minimum of each
# window (rightmost position on hash ties).  Guarantees every shared run
# of >= w+k-1 words produces a shared fingerprint, with ~2/(w+1) density.
# The tie rule is encoded IN the comparison key — hash15 || '#' ||
# zero-padded (10^8 - pos) — so one plain min() window aggregate realizes
# "min hash, rightmost position" identically in both engines.
# Scale shape: grams explode per doc, ONE doc-keyed shuffle, then
# partition-local window minima; the cross-doc share count is a narrow
# equi-join on the 15-hex fingerprint (gram-count bounded, never n^2).
# --------------------------------------------------------------------------

_WINNOW_K = 5   # words per gram
_WINNOW_W = 4   # grams per winnow window


def doc_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed fingerprint audit per doc: window count, selected
    fingerprints ((hash,pos) pairs), and how many of the doc's distinct
    fingerprint hashes also appear in another doc.  Docs with fewer than
    k+w-1 words have no full window and emit nothing (both engines).
    Output (doc_id, n_windows, n_fp, n_fp_shared)."""
    d = load_table(spark, sf_dir, "documents")
    w = d.select("doc_id", _words(F.col("text")).alias("w"))
    gram_h = F.transform(
        _gram_starts(F.col("w"), _WINNOW_K),
        lambda i: F.substring(
            F.md5(F.concat_ws(
                " ",
                *[F.element_at(F.col("w"), i + j) for j in range(_WINNOW_K)],
            )),
            1, 15,
        ),
    )
    grams = w.select(
        "doc_id", F.posexplode(gram_h).alias("pos0", "h")
    ).select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        F.concat(
            F.col("h"), F.lit("#"),
            F.lpad((F.lit(100_000_000) - F.col("pos0") - 1).cast("string"),
                   8, "0"),
        ).alias("key"),
    )
    frame = (
        Window.partitionBy("doc_id").orderBy("pos")
        .rowsBetween(0, _WINNOW_W - 1)
    )
    part = Window.partitionBy("doc_id")
    wins = (
        grams
        .withColumn("mk", F.min("key").over(frame))
        .withColumn("ng", F.count(F.lit(1)).over(part))
        .where(F.col("pos") <= F.col("ng") - (_WINNOW_W - 1))
    )
    per_doc = wins.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.countDistinct("mk").alias("n_fp"),
    )
    fpd = wins.select(
        "doc_id", F.substring("mk", 1, 15).alias("fp")
    ).distinct()
    share = fpd.groupBy("fp").agg(F.count(F.lit(1)).alias("nd"))
    shared = (
        fpd.join(share, "fp")
        .where(F.col("nd") >= 2)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_fp_shared"))
    )
    return per_doc.join(shared, "doc_id", "left").select(
        "doc_id",
        F.col("n_windows").cast("long").alias("n_windows"),
        F.col("n_fp").cast("long").alias("n_fp"),
        F.coalesce(F.col("n_fp_shared"), F.lit(0)).cast("long")
        .alias("n_fp_shared"),
    )


SQL_DOC_WINNOW = f"""
WITH wn_b AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents
), wn_k AS (
  SELECT doc_id, i AS pos,
         substr(md5(concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4])), 1, 15)
           || '#' || lpad(CAST(100000000 - i AS VARCHAR), 8, '0') AS key
  FROM (
    SELECT doc_id, w,
           unnest(generate_series(1, greatest(len(w) - {_WINNOW_K - 1}, 0))) AS i
    FROM wn_b
  )
), wn_w AS (
  SELECT doc_id, pos,
         min(key) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND {_WINNOW_W - 1} FOLLOWING)
           AS mk,
         count(*) OVER (PARTITION BY doc_id) AS ng
  FROM wn_k
), wn_win AS (
  SELECT doc_id, mk FROM wn_w WHERE pos <= ng - {_WINNOW_W - 1}
), wn_doc AS (
  SELECT doc_id, count(*) AS n_windows, count(DISTINCT mk) AS n_fp
  FROM wn_win GROUP BY doc_id
), wn_fpd AS (
  SELECT DISTINCT doc_id, substr(mk, 1, 15) AS fp FROM wn_win
), wn_share AS (
  SELECT fp, count(*) AS nd FROM wn_fpd GROUP BY fp
), wn_sh AS (
  SELECT f.doc_id, count(*) AS n_fp_shared
  FROM wn_fpd f JOIN wn_share s USING (fp)
  WHERE s.nd >= 2 GROUP BY f.doc_id
)
SELECT d.doc_id, CAST(d.n_windows AS BIGINT) AS n_windows,
       CAST(d.n_fp AS BIGINT) AS n_fp,
       CAST(coalesce(s.n_fp_shared, 0) AS BIGINT) AS n_fp_shared
FROM wn_doc d LEFT JOIN wn_sh s USING (doc_id)
"""


# --------------------------------------------------------------------------
# text statistics / quality / language
# --------------------------------------------------------------------------

def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    w = _words(F.col("text"))
    return d.select(
        "doc_id",
        F.size(w).alias("n_tokens"),
        F.size(F.array_distinct(w)).alias("n_distinct_tokens"),
        F.length("text").alias("n_chars_measured"),
        F.round(F.length("text") / F.size(w), 6).alias("chars_per_token"),
    )


SQL_DOC_TOKEN_STATS = """
SELECT doc_id,
       len(string_split(lower(trim(text)), ' ')) AS n_tokens,
       len(list_distinct(string_split(lower(trim(text)), ' '))) AS n_distinct_tokens,
       length(text) AS n_chars_measured,
       round(CAST(length(text) AS DOUBLE) / len(string_split(lower(trim(text)), ' ')), 6) AS chars_per_token
FROM documents
"""


def _sw_hits_expr(w, swl: list[str]):
    """Count of tokens in array column ``w`` hitting the stopword list."""
    arr = F.array([F.lit(x) for x in swl])
    return F.size(F.filter(w, lambda x: F.array_contains(arr, x)))


def _lang_vote_expr(w):
    """The en/de/fr stopword vote with doc_langid's tie-break order —
    the ONE definition shared by doc_langid / doc_quality_filter /
    langid_confusion (and mirrored by _SQL_LANG_VOTE)."""
    he, hd, hf = (
        _sw_hits_expr(w, s) for s in (STOPWORDS_EN, STOPWORDS_DE, STOPWORDS_FR)
    )
    return (
        F.when((he >= hd) & (he >= hf), F.lit("en"))
        .when(hd >= hf, F.lit("de"))
        .otherwise(F.lit("fr"))
    )


def _quality_score_expr(w):
    """doc_quality's rounded score — shared with doc_quality_filter."""
    stop_cnt = _sw_hits_expr(w, STOPWORDS_EN)
    ttr = F.size(F.array_distinct(w)) / F.size(w)
    return F.round(
        0.5 * (stop_cnt / F.size(w)) + 0.3 * ttr + 0.2 * (F.size(w) >= 20).cast("int"),
        6,
    )


def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: stopword ratio, type-token ratio, length score."""
    d = load_table(spark, sf_dir, "documents")
    w = _words(F.col("text"))
    stop_cnt = _sw_hits_expr(w, STOPWORDS_EN)
    ttr = F.size(F.array_distinct(w)) / F.size(w)
    return d.select(
        "doc_id",
        F.round(stop_cnt / F.size(w), 6).alias("stopword_ratio"),
        F.round(ttr, 6).alias("type_token_ratio"),
        (F.size(w) >= 20).cast("int").alias("len_ok"),
        _quality_score_expr(w).alias("quality_score"),
    )


_SQL_SW_EN = ", ".join(f"'{s}'" for s in STOPWORDS_EN)
SQL_DOC_QUALITY = f"""
WITH base AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents
), m AS (
  SELECT doc_id,
         CAST(len(list_filter(w, x -> x IN ({_SQL_SW_EN}))) AS DOUBLE) / len(w) AS sr,
         CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS ttr,
         CASE WHEN len(w) >= 20 THEN 1 ELSE 0 END AS len_ok
  FROM base
)
SELECT doc_id, round(sr, 6) AS stopword_ratio, round(ttr, 6) AS type_token_ratio,
       len_ok, round(0.5 * sr + 0.3 * ttr + 0.2 * len_ok, 6) AS quality_score
FROM m
"""


def doc_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram-free language ID heuristic: stopword hits per language."""
    d = load_table(spark, sf_dir, "documents")
    w = _words(F.col("text"))
    return d.select(
        "doc_id",
        _sw_hits_expr(w, STOPWORDS_EN).alias("hits_en"),
        _sw_hits_expr(w, STOPWORDS_DE).alias("hits_de"),
        _sw_hits_expr(w, STOPWORDS_FR).alias("hits_fr"),
        _lang_vote_expr(w).alias("lang_pred"),
    )


def _sql_hits(sw: list[str]) -> str:
    lst = ", ".join(f"'{s}'" for s in sw)
    return f"len(list_filter(string_split(lower(trim(text)), ' '), x -> x IN ({lst})))"


# the ONE SQL mirror of _lang_vote_expr (operates on a `text` column)
_SQL_LANG_VOTE = f"""CASE WHEN {_sql_hits(STOPWORDS_EN)} >= {_sql_hits(STOPWORDS_DE)}
             AND {_sql_hits(STOPWORDS_EN)} >= {_sql_hits(STOPWORDS_FR)} THEN 'en'
            WHEN {_sql_hits(STOPWORDS_DE)} >= {_sql_hits(STOPWORDS_FR)} THEN 'de'
            ELSE 'fr' END"""

SQL_DOC_LANGID = f"""
SELECT doc_id,
       {_sql_hits(STOPWORDS_EN)} AS hits_en,
       {_sql_hits(STOPWORDS_DE)} AS hits_de,
       {_sql_hits(STOPWORDS_FR)} AS hits_fr,
       {_SQL_LANG_VOTE} AS lang_pred
FROM documents
"""


def doc_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FineWeb/CCNet-style per-language quality thresholding: score every
    document (doc_quality's formula), bucket by predicted language
    (doc_langid's vote), and keep the top half WITHIN each language via
    cume_dist over the rounded score — per-language percentiles, not a
    global cut, so low-resource languages aren't starved by the dominant
    one.  cume_dist (peers-inclusive) is used instead of percent_rank so
    single-doc partitions and ties are well-defined identically in both
    engines.  One window over one shuffle on (lang); the scoring itself is
    pure narrow column exprs fused into the scan."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    w = _words(F.col("text"))
    scored = d.select(
        "doc_id",
        _lang_vote_expr(w).alias("lang_pred"),
        _quality_score_expr(w).alias("quality_score"),
    )
    win = Window.partitionBy("lang_pred").orderBy("quality_score")
    cume = F.round(F.cume_dist().over(win), 6)
    return scored.select(
        "doc_id",
        "lang_pred",
        "quality_score",
        cume.alias("cume"),
        (cume >= 0.5).cast("int").alias("keep"),
    )


SQL_DOC_QUALITY_FILTER = f"""
WITH base AS (
  SELECT doc_id, text, string_split(lower(trim(text)), ' ') AS w FROM documents
), scored AS (
  SELECT doc_id,
         {_SQL_LANG_VOTE} AS lang_pred,
         round(0.5 * (CAST(len(list_filter(w, x -> x IN ({_SQL_SW_EN}))) AS DOUBLE)
                      / len(w))
               + 0.3 * (CAST(len(list_distinct(w)) AS DOUBLE) / len(w))
               + 0.2 * (CASE WHEN len(w) >= 20 THEN 1 ELSE 0 END), 6)
           AS quality_score
  FROM base
), ranked AS (
  SELECT doc_id, lang_pred, quality_score,
         round(cume_dist() OVER (PARTITION BY lang_pred ORDER BY quality_score), 6)
           AS cume
  FROM scored
)
SELECT doc_id, lang_pred, quality_score, cume,
       CASE WHEN cume >= 0.5 THEN 1 ELSE 0 END AS keep
FROM ranked
"""


def langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier audit: confusion matrix of the stopword-vote language ID
    against the corpus's labelled ``lang`` column, with per-true-language
    recall — the standard quality gate before trusting a cheap heuristic
    to route a 100 TB corpus.  One combinable groupBy; recall is computed
    from a window sum over the tiny |langs|² matrix, so nothing but the
    counts ever shuffles.  Output (lang_true, lang_pred, n, recall)."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    w = _words(F.col("text"))
    m = (
        d.select(F.col("lang").alias("lang_true"), _lang_vote_expr(w).alias("lang_pred"))
        .groupBy("lang_true", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = Window.partitionBy("lang_true")
    return m.select(
        "lang_true",
        "lang_pred",
        "n",
        F.round(F.col("n") / F.sum("n").over(tot), 6).alias("recall"),
    )


SQL_LANGID_CONFUSION = f"""
WITH m AS (
  SELECT lang AS lang_true,
         {_SQL_LANG_VOTE} AS lang_pred
  FROM documents
), c AS (
  SELECT lang_true, lang_pred, CAST(count(*) AS BIGINT) AS n
  FROM m GROUP BY lang_true, lang_pred
)
SELECT lang_true, lang_pred, n,
       round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY lang_true), 6)
         AS recall
FROM c
"""


_PMI_MIN_PAIR = 5   # report pairs co-occurring in >= 5 docs
_PMI_MAX_WORDS = 64  # skew control: docs with more distinct tokens are
#                      excluded from the whole computation (a doc with w
#                      distinct words emits O(w²) pairs; capping w bounds
#                      the pair join independent of corpus size — same
#                      knob as tool_cousage's hub guard)


def word_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information of word pairs by document
    co-occurrence — the classic distributional-association score
    (collocation mining, retrieval query expansion).  Over docs with at
    most ``_PMI_MAX_WORDS`` distinct tokens: pmi(p,q) = ln(n_pair·N /
    (df_p·df_q)), reported for pairs co-occurring in >= ``_PMI_MIN_PAIR``
    docs.  All counts stay integer; the single double division happens on
    exactly-representable products, so the rounded score is bit-identical
    cross-engine.  The per-doc pair join is the one quadratic step and is
    bounded by the cap; everything else is combinable groupBys + a 1-row
    N broadcast.  Output (p, q, n_pair, pmi)."""
    d = load_table(spark, sf_dir, "documents")
    dw = (
        d.select("doc_id", F.explode(F.array_distinct(_words(F.col("text")))).alias("w"))
        .where(F.col("w") != "")
    )
    dn = dw.groupBy("doc_id").agg(F.count(F.lit(1)).alias("_nw")).where(
        F.col("_nw") <= _PMI_MAX_WORDS
    )
    dd = dw.join(dn.select("doc_id"), "doc_id").localCheckpoint()
    n = dd.select("doc_id").distinct().agg(F.count(F.lit(1)).alias("_n"))
    cf = dd.groupBy("w").agg(F.count(F.lit(1)).alias("_c"))
    a = dd.select("doc_id", F.col("w").alias("p"))
    b = dd.select("doc_id", F.col("w").alias("q"))
    pairs = (
        a.join(b, "doc_id")
        .where(F.col("p") < F.col("q"))
        .groupBy("p", "q")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .where(F.col("n_pair") >= _PMI_MIN_PAIR)
    )
    return (
        pairs.join(cf.select(F.col("w").alias("p"), F.col("_c").alias("_cp")), "p")
        .join(cf.select(F.col("w").alias("q"), F.col("_c").alias("_cq")), "q")
        .crossJoin(F.broadcast(n))
        .select(
            "p",
            "q",
            "n_pair",
            F.round(
                F.log(
                    (F.col("n_pair") * F.col("_n")).cast("double")
                    / (F.col("_cp") * F.col("_cq")).cast("double")
                ),
                6,
            ).alias("pmi"),
        )
    )


SQL_WORD_PMI = f"""
WITH dw AS (
  SELECT DISTINCT doc_id, w
  FROM (SELECT doc_id, unnest(list_distinct(string_split(lower(trim(text)), ' '))) AS w
        FROM documents)
  WHERE w <> ''
), dn AS (
  SELECT doc_id FROM dw GROUP BY doc_id HAVING count(*) <= {_PMI_MAX_WORDS}
), dd AS (
  SELECT dw.doc_id, dw.w FROM dw JOIN dn USING (doc_id)
), nn AS (
  SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM dd
), cf AS (
  SELECT w, CAST(count(*) AS BIGINT) AS c FROM dd GROUP BY w
), pairs AS (
  SELECT a.w AS p, b.w AS q, CAST(count(*) AS BIGINT) AS n_pair
  FROM dd a JOIN dd b ON b.doc_id = a.doc_id AND a.w < b.w
  GROUP BY a.w, b.w
  HAVING count(*) >= {_PMI_MIN_PAIR}
)
SELECT p, q, n_pair,
       round(ln(CAST(n_pair * (SELECT n FROM nn) AS DOUBLE)
                / CAST(ca.c * cb.c AS DOUBLE)), 6) AS pmi
FROM pairs JOIN cf ca ON ca.w = pairs.p JOIN cf cb ON cb.w = pairs.q
"""


_IDX_MIN_DF = 5  # index only terms appearing in >= 5 docs (bounds output)


def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-engine posting-list build: explode the token stream, count
    per-(term, doc) frequency, and assemble each term's posting list as a
    doc_id-ordered "doc:tf" string.  Both aggregations are combinable
    (partial tf maps merge map-side); the posting assembly shuffles only
    the (term, doc, tf) triples — at 100 TB this is the textbook
    shard-by-term index build, and per-term posting size (not corpus size)
    bounds reducer memory.  Terms below ``_IDX_MIN_DF`` docs are dropped.
    Output (word, df, total_tf, postings)."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(_words(F.col("text"))).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    posting = F.concat_ws(
        ",",
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("doc_id"), F.col("tf")))
            ),
            lambda s: F.concat_ws(":", s["doc_id"].cast("string"), s["tf"].cast("string")),
        ),
    )
    return (
        tf.groupBy("word")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").alias("total_tf"),
            posting.alias("postings"),
        )
        .where(F.col("df") >= _IDX_MIN_DF)
    )


SQL_INVERTED_INDEX = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS word
  FROM documents
), tf AS (
  SELECT word, doc_id, CAST(count(*) AS BIGINT) AS tf
  FROM tok WHERE word <> '' GROUP BY word, doc_id
)
SELECT word,
       CAST(count(*) AS BIGINT) AS df,
       CAST(sum(tf) AS BIGINT) AS total_tf,
       string_agg(CAST(doc_id AS VARCHAR) || ':' || CAST(tf AS VARCHAR),
                  ',' ORDER BY doc_id) AS postings
FROM tf
GROUP BY word
HAVING count(*) >= {_IDX_MIN_DF}
"""


# --------------------------------------------------------------------------
# BM25 retrieval top-k (§2.15 row 217): Okapi BM25 over the inverted-index
# shape — the sparse-retrieval baseline every RAG corpus build runs before
# (or alongside) the embedding ANN path.  Query set = the token sets of
# three FIXED documents (doc_id 0/1/2), so the fixture is deterministic at
# every SF without collecting anything; scoring is the real qterm ⋈
# postings join.
# --------------------------------------------------------------------------

_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_QUERY_DOCS = (0, 1, 2)
_BM25_TOPK = 10


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 BM25 hits per query document.  The query-term table is three
    docs' distinct tokens (broadcast, never corpus-sized); the score join
    shards by term exactly like the posting-list build, so per-term
    fan-out is bounded by df and the (query, doc) partial scores combine
    map-side.  N/avgdl come from one 1-row broadcast aggregate, not a
    collect.  Scores are rounded to 6 decimals on BOTH engines and the
    top-k boundary orders by (rounded score desc, doc_id), so double
    summation-order noise (~1e-15 relative) cannot flip the hash or the
    k-th place.  Output (query_id, rank, doc_id, score)."""
    d = load_table(spark, sf_dir, "documents")
    tok = (
        d.select("doc_id", F.explode(_words(F.col("text"))).alias("word"))
        .where(F.col("word") != "")
    )
    tf = tok.groupBy("word", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
    )
    df_ = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    qterms = (
        tok.where(F.col("doc_id").isin(*_BM25_QUERY_DOCS))
        .select(F.col("doc_id").alias("query_id"), "word")
        .distinct()
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_norm = (
        F.col("tf") * (_BM25_K1 + 1)
        / (
            F.col("tf")
            + _BM25_K1
            * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
        )
    )
    scored = (
        tf.join(F.broadcast(qterms), "word")
        .join(F.broadcast(df_.join(qterms, "word").select("word", "df").distinct()), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum(idf * tf_norm), 6).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.select(
            "query_id", F.row_number().over(w).alias("rank"), "doc_id", "score"
        )
        .where(F.col("rank") <= _BM25_TOPK)
        .orderBy("query_id", "rank")
    )


SQL_BM25_TOPK = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS word
  FROM documents
), tok2 AS (
  SELECT doc_id, word FROM tok WHERE word <> ''
), tf AS (
  SELECT word, doc_id, CAST(count(*) AS BIGINT) AS tf
  FROM tok2 GROUP BY word, doc_id
), dl AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok2 GROUP BY doc_id
), stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
  FROM dl
), dfr AS (
  SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY word
), qterms AS (
  SELECT DISTINCT doc_id AS query_id, word FROM tok2
  WHERE doc_id IN {_BM25_QUERY_DOCS}
), scored AS (
  SELECT q.query_id, tf.doc_id,
         round(sum(
           ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
           * tf.tf * ({_BM25_K1} + 1)
           / (tf.tf + {_BM25_K1}
              * (1 - {_BM25_B} + {_BM25_B} * dl.dl / s.avgdl))
         ), 6) AS score
  FROM tf
  JOIN qterms q ON q.word = tf.word
  JOIN dfr d ON d.word = tf.word
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY q.query_id, tf.doc_id
)
SELECT query_id, CAST(rank AS INT) AS rank, doc_id, score
FROM (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS rank
  FROM scored
)
WHERE rank <= {_BM25_TOPK}
ORDER BY query_id, rank
"""


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint of the normalized text (md5-int64)."""
    d = load_table(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.col("text")))
    return d.select(
        "doc_id",
        _md5_int(norm).alias("fp"),
        F.length(norm).alias("n_chars_norm"),
    )


SQL_DOC_FINGERPRINT = f"""
SELECT doc_id, {_sql_md5_int('lower(trim(text))')} AS fp,
       length(lower(trim(text))) AS n_chars_norm
FROM documents
"""


# --------------------------------------------------------------------------
# ANN: brute-force cosine top-k baseline
# --------------------------------------------------------------------------

ANN_QUERIES = 20
ANN_K = 5


def ann_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k for the first ANN_QUERIES vectors.

    JVM-side arithmetic only: zip_with product + aggregate sum.  The scale
    path (LSH-bucketed variant) lives in ann.py; this is the exact baseline
    the bucketed variant's recall is measured against."""
    em = load_table(spark, sf_dir, "embeddings")
    v = em.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    norm = F.sqrt(F.aggregate("e", F.lit(0.0), lambda a, x: a + x * x))
    v = v.withColumn("nrm", norm)
    q = v.where(F.col("vec_id") < ANN_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("e").alias("qe"), F.col("nrm").alias("qn")
    )
    dot = F.aggregate(F.zip_with("qe", "e", lambda a, b: a * b), F.lit(0.0), lambda a, x: a + x)
    sims = (
        q.crossJoin(v)
        .where(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            F.round(dot / (F.col("qn") * F.col("nrm")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), "vec_id")
    return (
        sims.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= ANN_K)
        .select("q_id", "vec_id", "cos_sim", "rk")
    )


SQL_ANN_TOPK = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
sims AS (
  SELECT q.vec_id AS q_id, v.vec_id AS vec_id,
         round(list_cosine_similarity(q.e, v.e), 6) AS cos_sim
  FROM v q JOIN v ON v.vec_id <> q.vec_id
  WHERE q.vec_id < {ANN_QUERIES}
)
SELECT q_id, vec_id, cos_sim, rk FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rk
  FROM sims
) WHERE rk <= {ANN_K}
"""


_TRUNC_DIM = 16  # Matryoshka prefix length audited against full-dim retrieval


def ann_trunc_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncated-dimension retrieval audit: per query, how
    many of the full-dim exact cosine top-k survive when retrieval uses only
    the first ``_TRUNC_DIM`` of the embedding's dims (the MRL deployment
    trade: a prefix slice is a free 4x index shrink IF recall holds — this
    row measures exactly that, bit-identically in both engines).  Same
    brute-force shape as ann_topk_cosine (JVM-side zip_with/aggregate); the
    100 TB path swaps the exact scan for the IVF/LSH variants, the audit
    logic is unchanged."""
    em = load_table(spark, sf_dir, "embeddings")
    v = em.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )

    def topk(vecs: DataFrame) -> DataFrame:
        vv = vecs.withColumn(
            "nrm", F.sqrt(F.aggregate("e", F.lit(0.0), lambda a, x: a + x * x))
        )
        q = vv.where(F.col("vec_id") < ANN_QUERIES).select(
            F.col("vec_id").alias("q_id"),
            F.col("e").alias("qe"),
            F.col("nrm").alias("qn"),
        )
        dot = F.aggregate(
            F.zip_with("qe", "e", lambda a, b: a * b), F.lit(0.0), lambda a, x: a + x
        )
        sims = (
            q.crossJoin(vv)
            .where(F.col("vec_id") != F.col("q_id"))
            .select("q_id", "vec_id", (dot / (F.col("qn") * F.col("nrm"))).alias("cs"))
        )
        w = Window.partitionBy("q_id").orderBy(F.desc("cs"), "vec_id")
        return (
            sims.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= ANN_K)
            .select("q_id", "vec_id")
        )

    full = topk(v)
    trunc = topk(v.select("vec_id", F.slice("e", 1, _TRUNC_DIM).alias("e")))
    hits = full.join(trunc, ["q_id", "vec_id"]).groupBy("q_id").agg(
        F.count(F.lit(1)).alias("n_overlap")
    )
    qids = v.where(F.col("vec_id") < ANN_QUERIES).select(
        F.col("vec_id").alias("q_id")
    )
    return qids.join(hits, "q_id", "left").select(
        "q_id",
        F.coalesce("n_overlap", F.lit(0)).cast("long").alias("n_overlap"),
        F.round(F.coalesce("n_overlap", F.lit(0)) / F.lit(ANN_K), 6).alias("recall"),
    )


SQL_ANN_TRUNC_RECALL = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
fullk AS (
  SELECT q_id, vec_id FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cs DESC, vec_id) AS rk
    FROM (SELECT q.vec_id AS q_id, v.vec_id AS vec_id,
                 list_cosine_similarity(q.e, v.e) AS cs
          FROM v q JOIN v ON v.vec_id <> q.vec_id
          WHERE q.vec_id < {ANN_QUERIES})
  ) WHERE rk <= {ANN_K}
),
trunck AS (
  SELECT q_id, vec_id FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cs DESC, vec_id) AS rk
    FROM (SELECT q.vec_id AS q_id, v.vec_id AS vec_id,
                 list_cosine_similarity(q.e[1:{_TRUNC_DIM}], v.e[1:{_TRUNC_DIM}]) AS cs
          FROM v q JOIN v ON v.vec_id <> q.vec_id
          WHERE q.vec_id < {ANN_QUERIES})
  ) WHERE rk <= {ANN_K}
),
hits AS (
  SELECT f.q_id, count(*) AS n_overlap
  FROM fullk f JOIN trunck t ON t.q_id = f.q_id AND t.vec_id = f.vec_id
  GROUP BY f.q_id
)
SELECT v.vec_id AS q_id,
       CAST(coalesce(h.n_overlap, 0) AS BIGINT) AS n_overlap,
       round(coalesce(h.n_overlap, 0) / CAST({ANN_K} AS DOUBLE), 6) AS recall
FROM v LEFT JOIN hits h ON h.q_id = v.vec_id
WHERE v.vec_id < {ANN_QUERIES}
"""


# --------------------------------------------------------------------------
# deterministic split / sampling
# --------------------------------------------------------------------------

_TEST_PCT = 10
_VAL_PCT = 10


def doc_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-bucketed train/val/test assignment — the
    reproducible-sampling primitive of a training-data pipeline: the split
    is a pure function of doc_id (salted so it is independent of the
    content hashes used by the dedup ops), stable across runs, machines,
    and engine versions, and never needs a shuffle beyond the final count.

    At 100 TB this is a narrow column expression fused into any scan; the
    per-split accounting row here is the driver-gate surface."""
    d = load_table(spark, sf_dir, "documents")
    bucket = F.pmod(
        _md5_int(F.concat_ws(":", F.lit("split"), F.col("doc_id").cast("string"))),
        F.lit(100),
    )
    split = (
        F.when(bucket < _TEST_PCT, F.lit("test"))
        .when(bucket < _TEST_PCT + _VAL_PCT, F.lit("val"))
        .otherwise(F.lit("train"))
    )
    return (
        d.select(split.alias("split"))
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


SQL_DOC_SPLIT = f"""
WITH b AS (
  SELECT {_sql_md5_int("concat_ws(':', 'split', CAST(doc_id AS VARCHAR))")} % 100 AS bucket
  FROM documents
)
SELECT CASE WHEN bucket < {_TEST_PCT} THEN 'test'
            WHEN bucket < {_TEST_PCT + _VAL_PCT} THEN 'val'
            ELSE 'train' END AS split,
       count(*) AS n_docs
FROM b GROUP BY 1
"""


def split_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov distance (§2.15 row 211) between the
    train and val token-length distributions under doc_split's buckets —
    the distribution-shift audit that catches a split whose hash
    accidentally correlates with document length.  KS = max_x |F_t(x) −
    F_v(x)| is computed EXACTLY: F_t − F_v = (ct·Nv − cv·Nt)/(Nt·Nv) has
    an integer numerator, so the max and its location never touch a
    double; ks_micro ships as int64 micro-units.  The cumulative window
    runs over the LENGTH HISTOGRAM (distinct token counts — thousands,
    not corpus-sized), the 100 TB shape; 2e6·|num| needs Nt·Nv < ~4e12,
    decimal(38,0) beyond.  Output one row (n_train, n_val, ks_at,
    ks_micro) where ks_at is the smallest length achieving the max."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    bucket = F.pmod(
        _md5_int(F.concat_ws(":", F.lit("split"), F.col("doc_id").cast("string"))),
        F.lit(100),
    )
    split = (
        F.when(bucket < _TEST_PCT, F.lit("test"))
        .when(bucket < _TEST_PCT + _VAL_PCT, F.lit("val"))
        .otherwise(F.lit("train"))
    )
    x = F.size(F.split(F.lower(F.trim("text")), " ")).cast("long")
    rows = d.select(split.alias("split"), x.alias("x")).where(
        F.col("split") != "test"
    )
    hist = rows.groupBy("x").agg(
        F.sum((F.col("split") == "train").cast("long")).alias("t"),
        F.sum((F.col("split") == "val").cast("long")).alias("v"),
    )
    wc = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    cum = hist.select(
        "x",
        F.sum("t").over(wc).alias("ct"),
        F.sum("v").over(wc).alias("cv"),
        F.sum("t").over(wall).alias("nt"),
        F.sum("v").over(wall).alias("nv"),
    )
    diff = F.abs(F.col("ct") * F.col("nv") - F.col("cv") * F.col("nt"))
    scored = cum.select("x", "nt", "nv", diff.alias("num"))
    m = scored.select(
        "x", "nt", "nv", "num",
        F.max("num").over(wall).alias("mx"),
    )
    agg = m.agg(
        F.max("nt").alias("n_train"),
        F.max("nv").alias("n_val"),
        F.min(F.when(F.col("num") == F.col("mx"), F.col("x"))).alias("ks_at"),
        F.max("mx").alias("ksn"),
    )
    gd = F.col("n_train") * F.col("n_val")
    a = F.lit(2000000).cast("long") * F.col("ksn") + gd
    b = F.lit(2).cast("long") * gd
    return agg.select(
        "n_train", "n_val", "ks_at",
        ((a - a % b) / b).cast("long").alias("ks_micro"),
    )


SQL_SPLIT_KS = f"""
WITH b AS (
  SELECT CASE
           WHEN {_sql_md5_int("concat_ws(':', 'split', CAST(doc_id AS VARCHAR))")} % 100
                < {_TEST_PCT} THEN 'test'
           WHEN {_sql_md5_int("concat_ws(':', 'split', CAST(doc_id AS VARCHAR))")} % 100
                < {_TEST_PCT + _VAL_PCT} THEN 'val'
           ELSE 'train' END AS split,
         CAST(len(string_split(lower(trim(text)), ' ')) AS BIGINT) AS x
  FROM documents
), hist AS (
  SELECT x,
         CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS t,
         CAST(sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS v
  FROM b WHERE split <> 'test' GROUP BY x
), cum AS (
  SELECT x,
         CAST(sum(t) OVER (ORDER BY x
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ct,
         CAST(sum(v) OVER (ORDER BY x
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cv,
         CAST(sum(t) OVER () AS BIGINT) AS nt,
         CAST(sum(v) OVER () AS BIGINT) AS nv
  FROM hist
), scored AS (
  SELECT x, nt, nv, abs(ct * nv - cv * nt) AS num,
         max(abs(ct * nv - cv * nt)) OVER () AS mx
  FROM cum
)
SELECT max(nt) AS n_train, max(nv) AS n_val,
       min(CASE WHEN num = mx THEN x END) AS ks_at,
       CAST((2000000 * max(mx) + max(nt) * max(nv))
            // (2 * max(nt) * max(nv)) AS BIGINT) AS ks_micro
FROM scored
"""


def doc_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER canonicalization — the final step of a dedup
    pipeline: union the LSH pair list into connected clusters and pick each
    cluster's canonical document (min doc_id).  Pairwise output alone
    under-deduplicates: A~B and B~C must collapse to ONE canonical even
    when A~C was never a candidate pair.

    Cross-subsystem composition: the pair graph from doc_near_dups feeds
    the SAME hash-min Pregel components engine (CSR blocks, packed-Arrow
    scatter) that serves the transcript graphs — at 100 TB the dup graph is
    still tiny relative to the corpus (it holds only docs WITH a near-dup),
    and hash-min converges in O(cluster diameter) supersteps.  vids are
    assigned in doc_id order so the engine's min-vid component label IS the
    min doc_id.  Output: (doc_id, canon_doc) for every clustered doc."""
    return cluster_pairs(doc_near_dups(spark, sf_dir).select("doc_a", "doc_b"))


def cluster_pairs(pairs: DataFrame) -> DataFrame:
    """Core of doc_dedup_clusters: (doc_a, doc_b) pair list -> per-doc
    canonical (min doc_id of its connected cluster), via the hash-min
    Pregel engine.  Exposed separately so the transitive-closure semantics
    are unit-testable on planted chains (tests/test_datapipe.py)."""
    from .derive import key_graph
    from .pregel import ComponentsProgram, GraphContext, run_program

    # numeric doc_id keys order numerically -> min vid == min doc_id
    edges = pairs.select(
        F.col("doc_a").alias("s"), F.col("doc_b").alias("t"),
        F.lit("dup").alias("etype"), F.lit(1.0).alias("w"),
    )
    g = key_graph(edges, F.lit("doc"))
    ctx = GraphContext.build(g, 4)
    try:
        res = run_program(ctx, ComponentsProgram(), max_iter=50)
        if not res.converged:
            # A dup-cluster chain deeper than max_iter would silently yield
            # non-canonical ids while the recursive-CTE oracle computes the
            # exact closure (ADVICE r03 #2) — fail loudly instead.
            raise RuntimeError(
                "doc_dedup_clusters: components did not converge in 50 "
                "supersteps; raise max_iter for this corpus"
            )
        did = pairs.schema["doc_a"].dataType
        vmap = g.vertices.select("vid", F.col("vkey").cast(did).alias("did"))
        canon = vmap.select(F.col("vid").alias("comp"), F.col("did").alias("canon_doc"))
        return (
            res.state.join(vmap, "vid")
            .join(canon, "comp")
            .select(F.col("did").alias("doc_id"), "canon_doc")
        )
    finally:
        ctx.unpersist()


SQL_DOC_DEDUP_CLUSTERS = f"""
WITH pairs AS ({SQL_DOC_NEAR_DUPS}),
und AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL SELECT doc_b AS a, doc_a AS b FROM pairs
), nodes AS (
  SELECT DISTINCT a AS v FROM und
), reach AS (
  WITH RECURSIVE r(v, root) AS (
    SELECT v, v FROM nodes
    UNION
    SELECT und.b, r.root FROM r JOIN und ON und.a = r.v
  )
  SELECT * FROM r
)
SELECT v AS doc_id, min(root) AS canon_doc FROM reach GROUP BY v
"""


def doc_dedup_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup retention accounting — the single-row report a
    production corpus pipeline publishes after a dedup pass: how many
    documents came in, how many fell to exact dedup (non-canonical copies
    of a text hash), how many additionally fell to near-dup clustering
    (exact-canonical docs whose MinHash/LSH cluster canonical is a
    different doc), and how many were retained.

    Composes the two real pipelines (``doc_exact_dedup`` hashing and the
    ``doc_dedup_clusters`` Pregel closure) rather than re-deriving either;
    the removal sets are disjoint by construction (a doc is charged to
    exact dedup first), so ``retained = n_docs - exact - near`` exactly.

    Scale shape: one map-side-combinable groupBy on the text hash, a
    broadcast-size join against the cluster table (only docs WITH a
    near-dup are clustered), and a single global agg — nothing beyond the
    shuffles the component pipelines already pay."""
    d = load_table(spark, sf_dir, "documents")
    eh = d.select("doc_id", _md5_int(F.col("text")).alias("h"))
    ek = eh.groupBy("h").agg(F.min("doc_id").alias("keep"))
    flags = eh.join(ek, "h").select(
        "doc_id", (F.col("doc_id") == F.col("keep")).alias("exact_kept")
    )
    clus = doc_dedup_clusters(spark, sf_dir)
    j = flags.join(clus, "doc_id", "left")
    exact_rm = F.sum((~F.col("exact_kept")).cast("long"))
    near_rm = F.sum(
        (
            F.col("exact_kept")
            & F.col("canon_doc").isNotNull()
            & (F.col("canon_doc") != F.col("doc_id"))
        ).cast("long")
    )
    return j.agg(
        F.count(F.lit(1)).alias("n_docs"),
        exact_rm.alias("exact_removed"),
        near_rm.alias("near_removed"),
        (F.count(F.lit(1)) - exact_rm - near_rm).alias("retained"),
    )


SQL_DOC_DEDUP_RETENTION = f"""
WITH eh AS (
  SELECT doc_id, {_sql_md5_int('text')} AS h FROM documents
), ek AS (
  SELECT h, min(doc_id) AS keep FROM eh GROUP BY h
), flags AS (
  SELECT eh.doc_id, eh.doc_id = ek.keep AS exact_kept
  FROM eh JOIN ek USING (h)
), clus AS ({SQL_DOC_DEDUP_CLUSTERS})
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN NOT exact_kept THEN 1 ELSE 0 END) AS BIGINT)
         AS exact_removed,
       CAST(sum(CASE WHEN exact_kept AND c.canon_doc IS NOT NULL
                      AND c.canon_doc <> f.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS near_removed,
       CAST(count(*)
            - sum(CASE WHEN NOT exact_kept THEN 1 ELSE 0 END)
            - sum(CASE WHEN exact_kept AND c.canon_doc IS NOT NULL
                        AND c.canon_doc <> f.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS retained
FROM flags f LEFT JOIN clus c ON c.doc_id = f.doc_id
"""


def _leakfree_assign(docs: DataFrame, clus: DataFrame) -> DataFrame:
    """Core of doc_split_leakfree: per-doc (doc_id, unit, split) where the
    split is a pure hash function of the doc's dedup-cluster canonical
    (``unit``), not of the doc itself — so every near-dup cluster lands in
    exactly ONE split by construction.  Exposed separately so the
    no-torn-cluster property is unit-testable on planted clusters."""
    unit = F.coalesce(F.col("canon_doc"), F.col("doc_id"))
    u = (
        docs.select("doc_id")
        .join(F.broadcast(clus), "doc_id", "left")
        .select("doc_id", unit.alias("unit"))
    )
    bucket = F.pmod(
        _md5_int(F.concat_ws(":", F.lit("lfsplit"), F.col("unit").cast("string"))),
        F.lit(100),
    )
    split = (
        F.when(bucket < _TEST_PCT, F.lit("test"))
        .when(bucket < _TEST_PCT + _VAL_PCT, F.lit("val"))
        .otherwise(F.lit("train"))
    )
    return u.select("doc_id", "unit", split.alias("split"))


def doc_split_leakfree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free train/val/test split (§2.15 row 194): the per-doc hash
    split of ``doc_split`` tears near-duplicate clusters across splits —
    a train copy of a val/test document is exactly the contamination
    ``doc_contamination`` exists to detect.  Here the split unit is the
    dedup-cluster canonical from ``doc_dedup_clusters`` (docs without a
    near-dup are their own unit), so duplicates can never straddle splits
    and downstream eval stays honest.

    Scale shape: the cluster table holds only docs WITH a near-dup
    (orders of magnitude smaller than the corpus) so the enrichment join
    broadcasts; the split itself is a narrow column expression over the
    unit id (salted independently of both ``doc_split`` and the content
    hashes); the accounting groupBy is map-side combinable with a standard
    two-phase distinct for ``n_units``.  Output: per-split doc and unit
    counts."""
    d = load_table(spark, sf_dir, "documents")
    clus = doc_dedup_clusters(spark, sf_dir)
    return (
        _leakfree_assign(d, clus)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("unit").alias("n_units"),
        )
    )


SQL_DOC_SPLIT_LEAKFREE = f"""
WITH clus AS ({SQL_DOC_DEDUP_CLUSTERS}),
u AS (
  SELECT d.doc_id, coalesce(c.canon_doc, d.doc_id) AS unit
  FROM documents d LEFT JOIN clus c ON c.doc_id = d.doc_id
), b AS (
  SELECT unit,
         {_sql_md5_int("concat_ws(':', 'lfsplit', CAST(unit AS VARCHAR))")} % 100
           AS bucket
  FROM u
)
SELECT CASE WHEN bucket < {_TEST_PCT} THEN 'test'
            WHEN bucket < {_TEST_PCT + _VAL_PCT} THEN 'val'
            ELSE 'train' END AS split,
       count(*) AS n_docs,
       CAST(count(DISTINCT unit) AS BIGINT) AS n_units
FROM b GROUP BY 1
"""


def doc_dedup_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup canonicalization (§2.15 row 201): production
    dedup keeps the BEST copy of a near-dup cluster, not the lowest id —
    so the retained corpus doesn't inherit the worst-formatted duplicate.
    Clusters come from the Pregel closure (``doc_dedup_clusters``, whose
    min-id label serves as the cluster KEY); the kept doc is the cluster
    argmax of the ROUNDED quality score (ulp-stable cross-engine), doc_id
    tiebreak.  Scale shape: the cluster table is dup-only (tiny), the
    quality score is a narrow column expr, and the argmax is one
    cluster-partitioned window over dup rows only.  Output
    (cluster, n_docs, best_doc, best_q)."""
    d = load_table(spark, sf_dir, "documents")
    clus = doc_dedup_clusters(spark, sf_dir)
    q = d.select("doc_id", _quality_score_expr(_words(F.col("text"))).alias("q"))
    # consumed by BOTH the argmax window and the size agg; materialized so
    # the LSH+closure chain under ``clus`` runs once (guide §2.4)
    j = clus.join(q, "doc_id").select(
        F.col("canon_doc").alias("cluster"), "doc_id", "q"
    ).localCheckpoint()
    w = Window.partitionBy("cluster").orderBy(F.desc("q"), F.asc("doc_id"))
    best = (
        j.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("cluster", F.col("doc_id").alias("best_doc"), F.col("q").alias("best_q"))
    )
    size = j.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_docs"))
    return size.join(best, "cluster").select(
        "cluster", "n_docs", "best_doc", "best_q"
    )


SQL_DOC_DEDUP_BEST = f"""
WITH clus AS ({SQL_DOC_DEDUP_CLUSTERS}),
qm AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents
), q AS (
  SELECT doc_id,
         round(0.5 * (CAST(len(list_filter(w, x -> x IN ({_SQL_SW_EN}))) AS DOUBLE)
                      / len(w))
               + 0.3 * (CAST(len(list_distinct(w)) AS DOUBLE) / len(w))
               + 0.2 * (CASE WHEN len(w) >= 20 THEN 1 ELSE 0 END), 6) AS q
  FROM qm
), j AS (
  SELECT c.canon_doc AS cluster, c.doc_id, q.q
  FROM clus c JOIN q USING (doc_id)
), best AS (
  SELECT cluster, doc_id, q,
         row_number() OVER (PARTITION BY cluster ORDER BY q DESC, doc_id) AS rk
  FROM j
), sz AS (SELECT cluster, count(*) AS n_docs FROM j GROUP BY 1)
SELECT b.cluster, s.n_docs, b.doc_id AS best_doc, b.q AS best_q
FROM best b JOIN sz s USING (cluster) WHERE b.rk = 1
"""


def doc_dedup_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix (§2.15 row 204): which sources
    duplicate each other — the "is source B a scrape of source A" audit a
    corpus curator runs before weighting sources.  For every unordered
    source pair (a ≤ b), the number of near-dup clusters containing both
    and the number of cross-pair doc combinations (Σ over clusters of
    cnt_a·cnt_b; within-source c·(c−1)/2 on the diagonal).

    Scale shape: the per-(cluster, source) count table is dup-only and
    tiny; the matrix self-join runs on cluster id over those counts —
    never over documents.  Output (source_a, source_b, n_clusters,
    n_pairs)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    clus = doc_dedup_clusters(spark, sf_dir)
    # both sides of the source-pair self-join; materialized so the
    # LSH+closure chain under ``clus`` runs once (guide §2.4)
    cs = (
        clus.join(d, "doc_id")
        .groupBy(F.col("canon_doc").alias("cluster"), "source")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()
    )
    a = cs.select("cluster", F.col("source").alias("source_a"), F.col("c").alias("ca"))
    b = cs.select("cluster", F.col("source").alias("source_b"), F.col("c").alias("cb"))
    pairs = F.when(
        F.col("source_a") == F.col("source_b"),
        F.col("ca") * (F.col("ca") - 1) / 2,
    ).otherwise(F.col("ca") * F.col("cb"))
    m = (
        a.join(b, "cluster")
        .where(F.col("source_a") <= F.col("source_b"))
        .withColumn("pairs", pairs)
        .where(F.col("pairs") > 0)  # the pair must CO-OCCUR in the cluster
    )
    return m.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("pairs").cast("long").alias("n_pairs"),
    )


SQL_DOC_DEDUP_SOURCES = f"""
WITH clus AS ({SQL_DOC_DEDUP_CLUSTERS}),
cs AS (
  SELECT c.canon_doc AS cluster, d.source, count(*) AS c
  FROM clus c JOIN documents d USING (doc_id)
  GROUP BY 1, 2
), m AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CASE WHEN a.source = b.source THEN a.c * (a.c - 1) / 2
              ELSE a.c * b.c END AS pairs
  FROM cs a JOIN cs b ON b.cluster = a.cluster AND a.source <= b.source
)
SELECT source_a, source_b, count(*) AS n_clusters,
       CAST(sum(pairs) AS BIGINT) AS n_pairs
FROM m WHERE pairs > 0 GROUP BY 1, 2
"""


_SPAN_LEN = 3       # tokens per corruption span (T5-style denoising)
_SPAN_EVERY = 20    # one span per 20 tokens = 15% mask at span length 3


def doc_span_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption accounting (§2.15 row 202): per doc, pick
    ``n_tokens // 20`` deterministic 3-token spans (md5-seeded starts) and
    report how many token positions the union of spans actually covers —
    the effective mask rate of the denoising objective, which is LESS than
    n_spans·3/n whenever spans collide.  Integer-only arithmetic (n // 20,
    md5 % (n-2)) so both engines agree exactly; docs under 20 tokens get
    zero spans, mirroring the oracle.  Pure column expressions end to end:
    at 100 TB this fuses into the scan — zero shuffle, zero UDF.  Output
    (doc_id, n_tokens, n_spans, masked, visible)."""
    d = load_table(spark, sf_dir, "documents")
    w = _words(F.col("text"))
    n = F.size(w)
    nspans = F.floor(n / F.lit(_SPAN_EVERY)).cast("long")
    start = lambda i: F.pmod(  # noqa: E731 — 0-based span start in [0, n-3]
        _md5_int(
            F.concat_ws(
                ":", F.lit("span"), F.col("doc_id").cast("string"),
                i.cast("string"),
            )
        ),
        (n - F.lit(_SPAN_LEN - 1)).cast("long"),
    )
    covered = F.when(
        n >= _SPAN_EVERY,  # guard: sequence(1, 0) would step DOWN in Spark
        F.array_distinct(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1).cast("long"), nspans),
                    lambda i: F.sequence(
                        start(i), start(i) + F.lit(_SPAN_LEN - 1)
                    ),
                )
            )
        ),
    ).otherwise(F.array().cast("array<long>"))
    return d.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        nspans.alias("n_spans"),
        F.size(covered).cast("long").alias("masked"),
        (n.cast("long") - F.size(covered)).alias("visible"),
    )


_SQL_SPAN_START = (
    "CAST(('0x' || substr(md5('span:' || CAST(doc_id AS VARCHAR) || ':' "
    "|| CAST(i AS VARCHAR)), 1, 15)) AS BIGINT) % (len(w) - 2)"
)

SQL_DOC_SPAN_MASK = f"""
WITH b AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents
), m AS (
  SELECT doc_id, len(w) AS n, len(w) // {_SPAN_EVERY} AS n_spans,
         CASE WHEN len(w) >= {_SPAN_EVERY} THEN
           len(list_distinct(flatten(list_transform(
             generate_series(1, len(w) // {_SPAN_EVERY}),
             i -> generate_series({_SQL_SPAN_START},
                                  {_SQL_SPAN_START} + {_SPAN_LEN - 1})))))
         ELSE 0 END AS masked
  FROM b
)
SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, CAST(n_spans AS BIGINT) AS n_spans,
       CAST(masked AS BIGINT) AS masked, CAST(n - masked AS BIGINT) AS visible
FROM m
"""


_HRW_SHARDS = 8


def _hrw_assign(docs: DataFrame, n_shards: int) -> DataFrame:
    """Rendezvous (highest-random-weight) shard assignment: each doc goes
    to argmax_s md5("hrw:<doc_id>:<s>") — the consistent-hashing scheme
    whose property is MINIMAL MOVEMENT: removing a shard relocates only
    that shard's docs (every other doc's argmax is unchanged).  Exposed
    separately so the movement property is unit-testable across shard
    counts.  Ties (astronomically unlikely) break to the larger shard id,
    matching the SQL oracle's ORDER BY h DESC, s DESC."""
    cands = F.array(
        *[
            F.struct(
                _md5_int(
                    F.concat_ws(
                        ":", F.lit("hrw"), F.col("doc_id").cast("string"),
                        F.lit(str(s)),
                    )
                ).alias("h"),
                F.lit(s).alias("s"),
            )
            for s in range(n_shards)
        ]
    )
    return docs.select(
        "doc_id", F.array_max(cands).getField("s").alias("shard")
    )


def doc_shard_hrw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous-hash shard routing audit (§2.15 row 195): the shard map
    a corpus store uses to route documents to a FIXED pool of writers /
    caches so that resizing the pool moves only 1/S of the keys (vs ~all
    keys under mod-S hashing).  Pure narrow column expression — the S
    candidate hashes fold into one projection, no shuffle until the
    accounting groupBy (map-side combinable).  Output: per-shard doc
    counts over the corpus."""
    d = load_table(spark, sf_dir, "documents")
    return (
        _hrw_assign(d, _HRW_SHARDS)
        .groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


SQL_DOC_SHARD_HRW = f"""
WITH cand AS (
  SELECT doc_id, s,
         {_sql_md5_int("concat_ws(':', 'hrw', CAST(doc_id AS VARCHAR), CAST(s AS VARCHAR))")}
           AS h
  FROM documents, unnest(generate_series(0, {_HRW_SHARDS - 1})) AS t(s)
), pick AS (
  SELECT doc_id, s,
         row_number() OVER (PARTITION BY doc_id ORDER BY h DESC, s DESC) AS rk
  FROM cand
)
SELECT CAST(s AS INT) AS shard, count(*) AS n_docs
FROM pick WHERE rk = 1 GROUP BY 1
"""


# --------------------------------------------------------------------------
# corpus statistics / sampling / packing (LLM training-data pipeline ops)
# --------------------------------------------------------------------------

def doc_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level TF-IDF: top-50 terms by summed tf·idf with
    idf = ln((N+1)/(df+1)).  Two map-side-combinable groupBys over the
    exploded token stream plus a broadcast 1-row corpus count — no collect,
    no cross join on data; at 100 TB the token explode is the only wide
    stage and it partial-aggregates before the shuffle."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(_words(F.col("text"))).alias("word"))
    tf = tok.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("word").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").alias("total_tf")
    )
    tot = d.agg(F.count(F.lit(1)).alias("n_docs"))
    score = F.round(
        F.col("total_tf") * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)), 6
    ) + 0.0
    return (
        df.crossJoin(F.broadcast(tot))
        .select("word", "df", "total_tf", score.alias("tfidf"))
        .orderBy(F.desc("tfidf"), "word")
        .limit(50)
    )


SQL_DOC_TFIDF = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS word FROM documents
), tf AS (
  SELECT doc_id, word, count(*) AS tf FROM tok GROUP BY doc_id, word
), dfreq AS (
  SELECT word, count(*) AS df, CAST(sum(tf) AS BIGINT) AS total_tf
  FROM tf GROUP BY word
), n AS (SELECT count(*) AS n_docs FROM documents)
SELECT word, df, total_tf,
       round(total_tf * ln((n_docs + 1.0) / (df + 1.0)), 6) + 0.0 AS tfidf
FROM dfreq, n
ORDER BY tfidf DESC, word
LIMIT 50
"""


_KEYWORDS_K = 3


def doc_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: each document's top-3 terms by
    per-doc tf·idf (idf = ln((N+1)/(df+1)), ties broken by term text) —
    the standard document-tagging composition of the corpus TF-IDF
    model.  Same two combinable groupBys as doc_tfidf plus one narrow
    word-keyed join of the tf table against the (small) df table and a
    per-doc top-k window.  Output (doc_id, rank, word, tfidf), docs < 200
    to keep the gate row compact."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(_words(F.col("text"))).alias("word"))
    tf = tok.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    tot = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "word")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "word",
            (
                F.round(
                    F.col("tf")
                    * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)),
                    6,
                )
                + 0.0
            ).alias("tfidf"),
        )
        .where(F.col("doc_id") < 200)
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("word"))
    return scored.select(
        "doc_id", F.row_number().over(w).alias("rank"), "word", "tfidf"
    ).where(F.col("rank") <= _KEYWORDS_K)


SQL_DOC_KEYWORDS = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS word
  FROM documents
), tf AS (
  SELECT doc_id, word, count(*) AS tf FROM tok GROUP BY doc_id, word
), dfreq AS (
  SELECT word, count(*) AS df FROM tf GROUP BY word
), n AS (SELECT count(*) AS n_docs FROM documents)
SELECT doc_id, CAST(rank AS INT) AS rank, word, tfidf FROM (
  SELECT doc_id, word,
         round(tf * ln((n_docs + 1.0) / (df + 1.0)), 6) + 0.0 AS tfidf,
         row_number() OVER (PARTITION BY doc_id
             ORDER BY round(tf * ln((n_docs + 1.0) / (df + 1.0)), 6) + 0.0 DESC,
                      word) AS rank
  FROM tf JOIN dfreq USING (word), n
  WHERE doc_id < 200
) WHERE rank <= {_KEYWORDS_K}
"""


def doc_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-bigram frequency top-20 (n-gram LM counts): bounded explode
    (len-1 bigrams per doc) + one combinable groupBy."""
    d = load_table(spark, sf_dir, "documents")
    w = d.select(_words(F.col("text")).alias("w"))
    bg = w.select(
        F.explode(
            F.transform(
                _gram_starts(F.col("w"), 2),
                lambda i: F.concat_ws(
                    " ", F.element_at(F.col("w"), i), F.element_at(F.col("w"), i + 1)
                ),
            )
        ).alias("bigram")
    )
    return (
        bg.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "bigram")
        .limit(20)
    )


SQL_DOC_BIGRAM = """
WITH bg AS (
  SELECT unnest(list_transform(
           generate_series(1, greatest(len(w) - 1, 0)),
           i -> concat_ws(' ', w[i], w[i+1])
         )) AS bigram
  FROM (SELECT string_split(lower(trim(text)), ' ') AS w FROM documents)
)
SELECT bigram, count(*) AS n FROM bg
GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20
"""


def doc_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical-LM quality scoring: per-document average negative log
    likelihood under an add-one-smoothed corpus bigram model —
    p(b|a) = (c(a,b)+1)/(c(a)+V), the classic perplexity-proxy crawl filter
    (docs whose text is unlike the corpus score high).

    Scale shape: the bigram explode partial-aggregates into the two model
    groupBys (both map-side combinable); V is a 1-row broadcast; scoring is
    one narrow (a,b) equi-join back onto the bigram stream.  Docs with <2
    words emit no bigrams and are excluded (both engines).
    Output (doc_id, n_bigrams, avg_nll)."""
    d = load_table(spark, sf_dir, "documents")
    w = d.select("doc_id", _words(F.col("text")).alias("w"))
    bg = w.select(
        "doc_id",
        F.explode(
            F.transform(
                _gram_starts(F.col("w"), 2),
                lambda i: F.struct(
                    F.element_at(F.col("w"), i).alias("a"),
                    F.element_at(F.col("w"), i + 1).alias("b"),
                ),
            )
        ).alias("g"),
    ).select("doc_id", "g.a", "g.b")
    cab = bg.groupBy("a", "b").agg(F.count(F.lit(1)).alias("cab"))
    ca = bg.groupBy("a").agg(F.count(F.lit(1)).alias("ca"))
    vocab = (
        w.select(F.explode("w").alias("word"))
        .agg(F.countDistinct("word").cast("double").alias("v"))
    )
    probs = (
        cab.join(ca, "a")
        .crossJoin(F.broadcast(vocab))
        .select(
            "a", "b",
            ((F.col("cab") + 1.0) / (F.col("ca") + F.col("v"))).alias("p"),
        )
    )
    return (
        bg.join(probs, ["a", "b"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(-F.log("p")), 6).alias("avg_nll"),
        )
    )


SQL_DOC_BIGRAM_LM = """
WITH d AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents
), bg AS (
  SELECT doc_id, w[CAST(i AS INT)] AS a, w[CAST(i AS INT) + 1] AS b
  FROM d, unnest(generate_series(1, greatest(len(w) - 1, 0))) AS t(i)
), cab AS (
  SELECT a, b, count(*) AS cab FROM bg GROUP BY a, b
), ca AS (
  SELECT a, count(*) AS ca FROM bg GROUP BY a
), vv AS (
  SELECT CAST(count(DISTINCT word) AS DOUBLE) AS v
  FROM (SELECT unnest(string_split(lower(trim(text)), ' ')) AS word
        FROM documents)
), p AS (
  SELECT cab.a, cab.b, (cab.cab + 1.0) / (ca.ca + (SELECT v FROM vv)) AS p
  FROM cab JOIN ca USING (a)
)
SELECT bg.doc_id, count(*) AS n_bigrams, round(avg(-ln(p.p)), 6) AS avg_nll
FROM bg JOIN p ON p.a = bg.a AND p.b = bg.b
GROUP BY bg.doc_id
"""


_STRAT_RATE_EN = 20   # keep 20% of the majority class...
_STRAT_RATE_OTHER = 50  # ...and 50% of everything else (class rebalancing)


def doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum (language) sampling — class rebalancing as
    a pure column expression: keep a doc iff its salted md5 bucket falls
    under its stratum's rate.  Stable across runs/engines like doc_split
    (same narrow-scan posture); the per-stratum accounting is the gate."""
    d = load_table(spark, sf_dir, "documents")
    bucket = F.pmod(
        _md5_int(F.concat_ws(":", F.lit("strat"), F.col("doc_id").cast("string"))),
        F.lit(100),
    )
    rate = F.when(F.col("lang") == "en", F.lit(_STRAT_RATE_EN)).otherwise(
        F.lit(_STRAT_RATE_OTHER)
    )
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum((bucket < rate).cast("long")).alias("n_sampled"),
    )


SQL_DOC_STRATIFIED = f"""
WITH b AS (
  SELECT lang,
         {_sql_md5_int("concat_ws(':', 'strat', CAST(doc_id AS VARCHAR))")} % 100 AS bucket,
         CASE WHEN lang = 'en' THEN {_STRAT_RATE_EN} ELSE {_STRAT_RATE_OTHER} END AS rate
  FROM documents
)
SELECT lang, count(*) AS n_total,
       CAST(sum(CASE WHEN bucket < rate THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
FROM b GROUP BY lang
"""


_PACK_SHARDS = 32   # pack within hash shards — NO global cumulative sum
_PACK_BIN_TOKENS = 256  # gate-scale context length (prod: 2048/4096/8192)


def doc_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LLM training: concatenate documents into
    fixed-token-budget bins.  Docs are hash-sharded, then a running token
    count WITHIN each shard assigns each doc to the bin its first token
    falls in (greedy contiguous packing).  The cumulative sum is per-shard —
    a global running sum would serialize on one partition at 100 TB; here
    each shard packs independently after ONE shuffle, which is how
    production packers scale (pack per output file)."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        F.size(_words(F.col("text"))).alias("n_tokens"),
        F.pmod(
            _md5_int(F.concat_ws(":", F.lit("pack"), F.col("doc_id").cast("string"))),
            F.lit(_PACK_SHARDS),
        ).alias("shard"),
    )
    cum = F.sum("n_tokens").over(Window.partitionBy("shard").orderBy("doc_id"))
    seq = F.floor((cum - F.col("n_tokens")) / F.lit(_PACK_BIN_TOKENS))
    return (
        t.withColumn("seq", seq)
        .groupBy("shard", "seq")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
        )
    )


SQL_DOC_PACK = f"""
WITH t AS (
  SELECT doc_id,
         len(string_split(lower(trim(text)), ' ')) AS n_tokens,
         {_sql_md5_int("concat_ws(':', 'pack', CAST(doc_id AS VARCHAR))")} % {_PACK_SHARDS} AS shard
  FROM documents
), s AS (
  SELECT shard, n_tokens,
         CAST(floor((sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)
                     - n_tokens) / {_PACK_BIN_TOKENS}.0) AS BIGINT) AS seq
  FROM t
)
SELECT shard, seq, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
FROM s GROUP BY shard, seq
"""


_CONTAM_N = 6  # 6-gram overlap -> contamination signal (prod: 8-13-grams)


def doc_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train→test contamination detection — the decontamination step of an
    LLM data pipeline: a TEST-split document is contaminated if any of its
    word-``_CONTAM_N``-grams also occurs in any TRAIN-split document.

    Splits come from the same salted md5 bucketing as doc_split (pure
    column expr).  Grams are hashed to int64 (md5 trick) so the overlap
    join is a narrow long-key equi-join: explode grams → distinct
    (split, gram) pairs → test⋈train on gram → per-doc overlap counts.
    At 100 TB the gram table is the only wide object and it partial-
    aggregates before the shuffle; no O(test×train) pair scan exists.
    Output: (doc_id, n_shared_grams, n_train_docs_hit) per contaminated
    test doc."""
    d = load_table(spark, sf_dir, "documents")
    bucket = F.pmod(
        _md5_int(F.concat_ws(":", F.lit("split"), F.col("doc_id").cast("string"))),
        F.lit(100),
    )
    dd = d.select("doc_id", "text", bucket.alias("bucket"))
    w = dd.select("doc_id", "bucket", _words(F.col("text")).alias("w"))
    grams = w.select(
        "doc_id",
        "bucket",
        F.explode(
            F.transform(
                _gram_starts(F.col("w"), _CONTAM_N),
                lambda i: _md5_int(
                    F.concat_ws(
                        " ",
                        *[
                            F.element_at(F.col("w"), i + k)
                            for k in range(_CONTAM_N)
                        ],
                    )
                ),
            )
        ).alias("g"),
    )
    test = grams.where(F.col("bucket") < _TEST_PCT).select("doc_id", "g").distinct()
    train = (
        grams.where(F.col("bucket") >= _TEST_PCT + _VAL_PCT)
        .select(F.col("doc_id").alias("train_doc"), "g")
        .distinct()
    )
    return (
        test.join(train, "g")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("g").alias("n_shared_grams"),
            F.countDistinct("train_doc").alias("n_train_docs_hit"),
        )
    )


SQL_DOC_CONTAMINATION = f"""
WITH b AS (
  SELECT doc_id,
         {_sql_md5_int("concat_ws(':', 'split', CAST(doc_id AS VARCHAR))")} % 100 AS bucket,
         string_split(lower(trim(text)), ' ') AS w
  FROM documents
), grams AS (
  SELECT doc_id, bucket,
         unnest(list_transform(
           generate_series(1, greatest(len(w) - {_CONTAM_N - 1}, 0)),
           i -> {_sql_md5_int(
               "concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4], w[i+5])"
           )}
         )) AS g
  FROM b
), test AS (
  SELECT DISTINCT doc_id, g FROM grams WHERE bucket < {_TEST_PCT}
), train AS (
  SELECT DISTINCT doc_id AS train_doc, g FROM grams
  WHERE bucket >= {_TEST_PCT + _VAL_PCT}
)
SELECT t.doc_id, count(DISTINCT t.g) AS n_shared_grams,
       count(DISTINCT r.train_doc) AS n_train_docs_hit
FROM test t JOIN train r USING (g)
GROUP BY t.doc_id
"""


_CHUNK_W = 32   # gate-scale context window (prod: 2048+)
_CHUNK_S = 24   # stride -> 8-token overlap between consecutive chunks


def doc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping context-window chunking — the canonical LLM preprocessing
    step (split every document into windows of ``_CHUNK_W`` tokens at stride
    ``_CHUNK_S``).  Pure Catalyst: sequence→explode→slice, no UDF, so the
    whole op stays inside whole-stage codegen; output volume is
    tokens/stride per doc (bounded explode), and the op is embarrassingly
    parallel — no shuffle at all until a downstream agg."""
    d = load_table(spark, sf_dir, "documents")
    w = d.select("doc_id", _words(F.col("text")).alias("w"))
    c = w.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.size("w"), F.lit(1)), F.lit(_CHUNK_S))
        ).alias("start"),
        "w",
    )
    return c.select(
        "doc_id",
        "start",
        F.size(F.slice(F.col("w"), F.col("start"), _CHUNK_W)).alias("n_tok"),
        F.element_at(F.col("w"), F.col("start")).alias("head"),
    )


SQL_DOC_CHUNK = f"""
WITH w AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents
), c AS (
  SELECT doc_id, w,
         unnest(generate_series(1, greatest(len(w), 1), {_CHUNK_S})) AS start
  FROM w
)
SELECT doc_id, start,
       len(list_slice(w, start, start + {_CHUNK_W} - 1)) AS n_tok,
       w[start] AS head
FROM c
"""


# --------------------------------------------------------------------------
# length-bucketed batching (dynamic-batching layout for training)
# --------------------------------------------------------------------------

_LB_BUCKETS = 8
_LB_BATCH = 32


def doc_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batch assignment: docs ntile(8)'d by token count
    (deterministic (n_tokens, doc_id) order), then fixed-size batch ids
    within each bucket — the standard dynamic-batching layout that keeps
    padding waste bounded when packing variable-length sequences.

    Two window passes over the SAME (bucket-less then bucketed) sort — at
    100 TB you'd range-partition by n_tokens first so each executor sorts
    one quantile slice; the plan here is the same shape Catalyst produces
    for that (Exchange + two Window nodes), with no Python anywhere."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", F.size(_words(F.col("text"))).alias("n_tokens")
    )
    w_all = Window.orderBy("n_tokens", "doc_id")
    w_b = Window.partitionBy("bucket").orderBy("n_tokens", "doc_id")
    return (
        t.withColumn("bucket", F.ntile(_LB_BUCKETS).over(w_all))
        .withColumn(
            "batch_id",
            F.floor((F.row_number().over(w_b) - 1) / _LB_BATCH).cast("bigint"),
        )
        .orderBy("bucket", "batch_id", "doc_id")
    )


SQL_DOC_LENGTH_BUCKETS = f"""
WITH t AS (
  SELECT doc_id, len(string_split(lower(trim(text)), ' ')) AS n_tokens
  FROM documents
), b AS (
  SELECT doc_id, n_tokens,
         ntile({_LB_BUCKETS}) OVER (ORDER BY n_tokens, doc_id) AS bucket
  FROM t
)
SELECT doc_id, n_tokens, bucket,
       CAST(floor((row_number() OVER (PARTITION BY bucket ORDER BY n_tokens, doc_id) - 1)
            / {_LB_BATCH}) AS BIGINT) AS batch_id
FROM b
ORDER BY bucket, batch_id, doc_id
"""


# --------------------------------------------------------------------------
# weighted sampling without replacement (Efraimidis-Spirakis A-ES)
# --------------------------------------------------------------------------

_WS_K = 100
_WS_SCALE = float(1 << 60)


def doc_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sample WITHOUT replacement: top-_WS_K docs by the
    Efraimidis-Spirakis key ln(u)/w with w = token count — longer docs
    proportionally more likely, every doc still possible, and the sample
    is exactly equivalent to sequential weighted draws without
    replacement (A-ES, Inf. Proc. Letters 97(5), 2006).

    u is a deterministic salted md5 of doc_id mapped into (0, 1], so the
    'randomness' is reproducible across runs, engines, and machines —
    the same discipline as doc_split.  At 100 TB this is a narrow column
    expression + ONE top-k (TakeOrdered — per-partition heaps, no global
    sort); the standard corpus-downsampling primitive when quality
    weights exist."""
    d = load_table(spark, sf_dir, "documents")
    u = (
        _md5_int(
            F.concat_ws(":", F.lit("wsample"), F.col("doc_id").cast("string"))
        )
        + F.lit(1.0)
    ) / F.lit(_WS_SCALE)
    t = d.select(
        "doc_id",
        F.size(_words(F.col("text"))).alias("n_tokens"),
        (F.log(u) / F.size(_words(F.col("text")))).alias("k_raw"),
    ).where(F.col("n_tokens") > 0)
    return (
        t.orderBy(F.desc("k_raw"), "doc_id")
        .limit(_WS_K)
        .select(
            "doc_id",
            "n_tokens",
            (F.round(F.col("k_raw"), 6) + 0.0).alias("skey"),
        )
    )


SQL_DOC_WEIGHTED_SAMPLE = f"""
WITH t AS (
  SELECT doc_id,
         len(string_split(lower(trim(text)), ' ')) AS n_tokens,
         ln(({_sql_md5_int("'wsample:' || CAST(doc_id AS VARCHAR)")} + 1.0)
            / {_WS_SCALE})
           / len(string_split(lower(trim(text)), ' ')) AS k_raw
  FROM documents
)
SELECT doc_id, n_tokens, round(k_raw, 6) + 0.0 AS skey
FROM t WHERE n_tokens > 0
ORDER BY k_raw DESC, doc_id LIMIT {_WS_K}
"""


# --------------------------------------------------------------------------
# mixture-weighted corpus composition (domain reweighting under a budget)
# --------------------------------------------------------------------------

_MIX_BUDGET = 0.3   # target: 30% of corpus tokens
_MIX_SCALE = float(1 << 60)


def doc_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-reweighted corpus composition: given per-source mixture
    weights (here w_s = source index + 1, a fixed data-independent
    function) and a global token budget (_MIX_BUDGET of corpus tokens),
    compute each source's sampling rate min(1, budget·w̃_s / tokens_s)
    and the deterministic md5-thresholded sample it induces; one
    accounting row per source.

    The canonical pretraining-mixture op (fixed-weight domain
    reweighting): two combinable aggregates (per-source token totals,
    then sampled totals), a 1-row broadcast for the weight normalizer,
    and a broadcast rate join back onto the scan — at 100 TB nothing
    shuffles except the two groupBys on `source`, and doc selection is a
    pure column predicate (hash < rate) fused into the scan, so the
    SAME docs are chosen on any cluster, any run."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "source",
        F.col("doc_id"),
        F.size(_words(F.col("text"))).alias("n_tokens"),
        (
            (
                _md5_int(
                    F.concat_ws(
                        ":", F.lit("mix"), F.col("doc_id").cast("string")
                    )
                )
                + F.lit(1.0)
            )
            / F.lit(_MIX_SCALE)
        ).alias("u"),
        (F.regexp_extract("source", r"(\d+)$", 1).cast("long") + 1)
        .cast("double")
        .alias("w"),
    )
    per_src = t.groupBy("source", "w").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("tokens_in"),
    )
    tot = per_src.agg(
        F.sum("tokens_in").alias("_tok_total"), F.sum("w").alias("_w_total")
    )
    rates = per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "tokens_in",
        F.least(
            F.lit(1.0),
            F.lit(_MIX_BUDGET)
            * F.col("_tok_total")
            * (F.col("w") / F.col("_w_total"))
            / F.col("tokens_in"),
        ).alias("rate_raw"),
    )
    sampled = (
        t.join(F.broadcast(rates.select("source", "rate_raw")), "source")
        .where(F.col("u") < F.col("rate_raw"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("n_tokens").alias("tokens_sampled"),
        )
    )
    return (
        rates.join(sampled, "source", "left")
        .select(
            "source",
            "n_docs",
            "tokens_in",
            (F.round(F.col("rate_raw"), 6) + 0.0).alias("rate"),
            F.coalesce("n_sampled", F.lit(0)).alias("n_sampled"),
            F.coalesce("tokens_sampled", F.lit(0)).alias("tokens_sampled"),
        )
        .orderBy("source")
    )


SQL_DOC_MIXTURE_SAMPLE = f"""
WITH t AS (
  SELECT source, doc_id,
         len(string_split(lower(trim(text)), ' ')) AS n_tokens,
         ({_sql_md5_int("'mix:' || CAST(doc_id AS VARCHAR)")} + 1.0)
           / {_MIX_SCALE} AS u,
         CAST(CAST(regexp_extract(source, '(\\d+)$', 1) AS BIGINT) + 1
              AS DOUBLE) AS w
  FROM documents
), per_src AS (
  SELECT source, w, count(*) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS tokens_in
  FROM t GROUP BY source, w
), tot AS (
  SELECT sum(tokens_in) AS tok_total, sum(w) AS w_total FROM per_src
), rates AS (
  SELECT source, n_docs, tokens_in,
         least(1.0, {_MIX_BUDGET} * tot.tok_total * (w / tot.w_total)
                    / tokens_in) AS rate_raw
  FROM per_src, tot
), sampled AS (
  SELECT t.source, count(*) AS n_sampled,
         CAST(sum(t.n_tokens) AS BIGINT) AS tokens_sampled
  FROM t JOIN rates r ON r.source = t.source
  WHERE t.u < r.rate_raw GROUP BY t.source
)
SELECT r.source, r.n_docs, r.tokens_in,
       round(r.rate_raw, 6) + 0.0 AS rate,
       CAST(coalesce(s.n_sampled, 0) AS BIGINT) AS n_sampled,
       CAST(coalesce(s.tokens_sampled, 0) AS BIGINT) AS tokens_sampled
FROM rates r LEFT JOIN sampled s ON s.source = r.source
ORDER BY r.source
"""


# --------------------------------------------------------------------------
# one-sided containment detection (quote / subset duplicates): pairs where
# nearly all of the SMALLER document's shingles appear in the larger one.
# Jaccard-based LSH structurally misses these (a 12-word quote inside a
# 300-word page has Jaccard ~0.04 but containment 1.0), so candidates come
# from a rare-shingle inverted index instead: only shingles whose corpus
# document frequency is <= CONTAIN_RARE_DF generate candidate pairs, which
# bounds the fan-out per shingle at df^2 regardless of corpus size.
# --------------------------------------------------------------------------

CONTAIN_TAU = 0.9
CONTAIN_RARE_DF = 10
_QUOTE_MOD = 5          # every 5th doc gets a planted quote twin
_QUOTE_WORDS = 12       # quote = the doc's first 12 words
_QUOTE_OFFSET = 1_000_000


def _with_quotes(d: DataFrame) -> DataFrame:
    """Planted quote fixture: every ``_QUOTE_MOD``-th doc gains a twin at
    doc_id + ``_QUOTE_OFFSET`` whose text is the doc's first
    ``_QUOTE_WORDS`` words — containment 1.0 in its source by
    construction, Jaccard far below the near-dup threshold (the case
    this op exists for).  Deterministic and replicated in the oracle."""
    quotes = d.where(F.col("doc_id") % _QUOTE_MOD == 0).select(
        (F.col("doc_id") + _QUOTE_OFFSET).alias("doc_id"),
        F.concat_ws(
            " ", F.slice(_words(F.col("text")), 1, _QUOTE_WORDS)
        ).alias("text"),
    )
    return d.select("doc_id", "text").unionByName(quotes)


def doc_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided containment pairs over the quote-planted corpus:
    candidates from the rare-shingle inverted index (df <=
    ``CONTAIN_RARE_DF``), then EXACT containment
    |grams(small) ∩ grams(big)| / |grams(small)| >= ``CONTAIN_TAU``
    (ties on gram count broken by doc_id: lower id is "small").

    Scale posture: the inverted index is one combinable groupBy; rare
    shingles cap per-key fan-out at df² pairs; the exact rerank joins the
    candidate list (≪ corpus²) against per-doc gram sets once.  The same
    shape FineWeb-style pipelines use for quote/boilerplate containment.
    Output (doc_small, doc_big, containment)."""
    d = _with_quotes(load_table(spark, sf_dir, "documents"))
    w = d.select("doc_id", _words(F.col("text")).alias("w"))
    sh = w.select(
        "doc_id",
        F.explode(
            F.transform(
                _gram_starts(F.col("w"), 3),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(F.col("w"), i),
                    F.element_at(F.col("w"), i + 1),
                    F.element_at(F.col("w"), i + 2),
                ),
            )
        ).alias("shingle"),
    ).distinct()
    df_per = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    rare = sh.join(
        df_per.where(F.col("df") <= CONTAIN_RARE_DF).select("shingle"), "shingle"
    )
    r1 = rare.select(F.col("doc_id").alias("doc_a"), "shingle")
    r2 = rare.select(F.col("doc_id").alias("doc_b"), "shingle")
    cand = (
        r1.join(r2, "shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    inter = (
        cand.join(sh.select(F.col("doc_id").alias("doc_a"), "shingle"), "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"), "shingle"), ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    scored = (
        inter.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_grams").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_grams").alias("nb")),
            "doc_b",
        )
        .select(
            F.when(
                (F.col("na") < F.col("nb"))
                | ((F.col("na") == F.col("nb")) & (F.col("doc_a") < F.col("doc_b"))),
                F.struct(
                    F.col("doc_a").alias("doc_small"),
                    F.col("doc_b").alias("doc_big"),
                    F.col("na").alias("n_small"),
                ),
            )
            .otherwise(
                F.struct(
                    F.col("doc_b").alias("doc_small"),
                    F.col("doc_a").alias("doc_big"),
                    F.col("nb").alias("n_small"),
                )
            )
            .alias("o"),
            "n_common",
        )
        .select(
            F.col("o.doc_small").alias("doc_small"),
            F.col("o.doc_big").alias("doc_big"),
            F.round(F.col("n_common") / F.col("o.n_small"), 6).alias("containment"),
        )
        .where(F.col("containment") >= CONTAIN_TAU)
    )
    return scored


SQL_DOC_CONTAINMENT = f"""
WITH base AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_QUOTE_OFFSET} AS doc_id,
         concat_ws(' ', list_aggregate(
           string_split(lower(trim(text)), ' ')[1:{_QUOTE_WORDS}],
           'string_agg', ' ')) AS text
  FROM documents WHERE doc_id % {_QUOTE_MOD} = 0
), sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(
             generate_series(1, greatest(len(w) - 2, 0)),
             i -> concat_ws(' ', w[i], w[i+1], w[i+2])
           )) AS shingle
    FROM (SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM base)
  )
), dfp AS (
  SELECT shingle, count(*) AS df FROM sh GROUP BY shingle
), rare AS (
  SELECT sh.doc_id, sh.shingle FROM sh
  JOIN dfp ON dfp.shingle = sh.shingle AND dfp.df <= {CONTAIN_RARE_DF}
), cand AS (
  SELECT DISTINCT r1.doc_id AS doc_a, r2.doc_id AS doc_b
  FROM rare r1 JOIN rare r2
    ON r1.shingle = r2.shingle AND r1.doc_id < r2.doc_id
), sizes AS (
  SELECT doc_id, count(*) AS n_grams FROM sh GROUP BY doc_id
), inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_common
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY c.doc_a, c.doc_b
), scored AS (
  SELECT CASE WHEN za.n_grams < zb.n_grams
              OR (za.n_grams = zb.n_grams AND i.doc_a < i.doc_b)
         THEN i.doc_a ELSE i.doc_b END AS doc_small,
         CASE WHEN za.n_grams < zb.n_grams
              OR (za.n_grams = zb.n_grams AND i.doc_a < i.doc_b)
         THEN i.doc_b ELSE i.doc_a END AS doc_big,
         round(CAST(i.n_common AS DOUBLE)
               / least(za.n_grams, zb.n_grams), 6) AS containment
  FROM inter i
  JOIN sizes za ON za.doc_id = i.doc_a
  JOIN sizes zb ON zb.doc_id = i.doc_b
)
SELECT doc_small, doc_big, containment
FROM scored WHERE containment >= {CONTAIN_TAU}
"""


# --------------------------------------------------------------------------
# DSIR-style importance resampling (data selection for language models)
# --------------------------------------------------------------------------
# Select raw-pool documents that RESEMBLE a small target domain: score every
# doc by the average per-token log-likelihood ratio between an add-one
# unigram LM fit on the target slice and one fit on the whole corpus, then
# keep the top-K.  This is the DSIR recipe (Xie et al., "Data Selection for
# Language Models via Importance Resampling") with word unigrams standing in
# for hashed n-grams.  Target slice here: lang='de' docs (small, distinct).

_DSIR_TARGET_LANG = "de"
_DSIR_TOPK = 50


def doc_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-_DSIR_TOPK docs by avg per-token log p_target(w) − log p_corpus(w)
    (add-one smoothing over the JOINT vocab); output (doc_id, lang,
    n_tokens, logratio) ordered by (logratio desc, doc_id).

    Scale shape: the token stream partial-aggregates into two combinable
    word-count models; totals and vocab size are a 1-row broadcast; scoring
    is ONE narrow word equi-join back onto the token stream followed by a
    per-doc avg — the exact shape DSIR runs at pretraining scale (the models
    are |vocab|-sized, never per-doc state).  Ties at the top-K boundary
    break on doc_id after 6-decimal rounding, so the cut is deterministic
    and identical cross-engine."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", F.explode(_words(F.col("text"))).alias("word")
    )
    tgt = (
        toks.where(F.col("lang") == _DSIR_TARGET_LANG)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    bg = toks.groupBy("word").agg(F.count(F.lit(1)).alias("cb"))
    model = bg.join(tgt, "word", "left").select(
        "word", F.coalesce("ct", F.lit(0)).alias("ct"), "cb"
    )
    tot = model.agg(
        F.sum("ct").cast("double").alias("_tt"),
        F.sum("cb").cast("double").alias("_tb"),
        F.count(F.lit(1)).cast("double").alias("_v"),
    )
    lr = model.crossJoin(F.broadcast(tot)).select(
        "word",
        (
            F.log((F.col("ct") + 1.0) / (F.col("_tt") + F.col("_v")))
            - F.log((F.col("cb") + 1.0) / (F.col("_tb") + F.col("_v")))
        ).alias("lr"),
    )
    scored = (
        toks.join(lr, "word")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg("lr"), 6).alias("logratio"),
        )
    )
    return scored.orderBy(
        F.col("logratio").desc(), F.col("doc_id")
    ).limit(_DSIR_TOPK)


SQL_DOC_DSIR = f"""
WITH toks AS (
  SELECT doc_id, lang,
         unnest(string_split(lower(trim(text)), ' ')) AS word
  FROM documents
), tgt AS (
  SELECT word, count(*) AS ct FROM toks
  WHERE lang = '{_DSIR_TARGET_LANG}' GROUP BY word
), bg AS (
  SELECT word, count(*) AS cb FROM toks GROUP BY word
), model AS (
  SELECT bg.word, coalesce(tgt.ct, 0) AS ct, bg.cb
  FROM bg LEFT JOIN tgt USING (word)
), tot AS (
  SELECT CAST(sum(ct) AS DOUBLE) AS tt, CAST(sum(cb) AS DOUBLE) AS tb,
         CAST(count(*) AS DOUBLE) AS v
  FROM model
), lr AS (
  SELECT word,
         ln((ct + 1.0) / (tt + v)) - ln((cb + 1.0) / (tb + v)) AS lr
  FROM model, tot
), scored AS (
  SELECT t.doc_id, t.lang, count(*) AS n_tokens,
         round(avg(l.lr), 6) AS logratio
  FROM toks t JOIN lr l USING (word)
  GROUP BY t.doc_id, t.lang
)
SELECT doc_id, lang, n_tokens, logratio
FROM scored ORDER BY logratio DESC, doc_id LIMIT {_DSIR_TOPK}
"""


# --------------------------------------------------------------------------
# distributed BPE merge training (tokenizer induction over the corpus)
# --------------------------------------------------------------------------
# Classic byte-pair-encoding training (Sennrich et al. 2016), the way a
# distributed tokenizer trainer runs it: state is the WORD-COUNT table (one
# row per distinct word — corpus-size-independent), each word held as a
# separator-joined symbol string.  Per merge round: explode adjacent symbol
# pairs weighted by word freq (combinable sum), take the global argmax pair
# (1-row broadcast, tie -> lexicographic), and apply the merge to every word
# via a single literal replace() — leftmost non-overlapping replacement IS
# BPE's left-to-right merge pass, identically in the JVM and DuckDB.  No
# driver loop over data, no collect: k merges = k (pair-count shuffle +
# 1-row broadcast) rounds over the vocab table.

_BPE_MERGES = 8
_BPE_SEP = ","  # corpus is lowercase a-z + space; ',' cannot collide


def _bpe_train(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Run the merge loop; returns ``(merges, state)`` where ``merges`` is one
    row per round (merge_round, sym_a, sym_b, pair_count) and ``state`` is the
    vocabulary after all merges: (word, w, freq) with ``w`` the separator-
    joined symbol string — the table an encoder joins the corpus against."""
    d = load_table(spark, sf_dir, "documents")
    wc = (
        d.select(F.explode(_words(F.col("text"))).alias("word"))
        .where((F.col("word") != "") & ~F.col("word").contains(_BPE_SEP))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # Each round's state feeds BOTH the next round's pair count and the
    # merge application, and every round's argmax row is referenced by the
    # final union — left lazy, Catalyst re-executes the whole prior-round
    # chain per reference (measured: 510 BroadcastNestedLoopJoins / 516
    # parquet scans / 770 Exchanges in the unrolled 8-round plan, 23 s at
    # sf0.01).  The DuckDB oracle already pins every round with
    # MATERIALIZED CTEs; the Spark side now does the same with one eager
    # localCheckpoint per round state + per argmax row (guide §2.4, §3.3
    # "very wide plans: materialise an intermediate").
    state = wc.select(
        "word",
        F.regexp_replace("word", "(.)", _BPE_SEP + "$1").alias("w"),
        "freq",
    ).localCheckpoint()
    merges = None
    for t in range(_BPE_MERGES):
        syms = state.select(
            F.split(F.substring(F.col("w"), 2, 1 << 30), _BPE_SEP).alias("s"),
            "freq",
        )
        pairs = syms.select(
            F.explode(
                F.transform(
                    _gram_starts(F.col("s"), 2),
                    lambda i: F.struct(
                        F.element_at(F.col("s"), i).alias("a"),
                        F.element_at(F.col("s"), i + 1).alias("b"),
                    ),
                )
            ).alias("p"),
            "freq",
        )
        best = (
            pairs.groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("pair_count"))
            .orderBy(F.col("pair_count").desc(), "a", "b")
            .limit(1)
            .localCheckpoint()
        )
        tagged = best.select(
            F.lit(t + 1).alias("merge_round"),
            F.col("a").alias("sym_a"),
            F.col("b").alias("sym_b"),
            "pair_count",
        )
        merges = tagged if merges is None else merges.unionByName(tagged)
        state = state.crossJoin(
            F.broadcast(
                best.select(F.col("a").alias("_a"), F.col("b").alias("_b"))
            )
        ).select(
            "word",
            F.replace(
                F.col("w"),
                F.concat(F.lit(_BPE_SEP), F.col("_a"), F.lit(_BPE_SEP), F.col("_b")),
                F.concat(F.lit(_BPE_SEP), F.col("_a"), F.col("_b")),
            ).alias("w"),
            "freq",
        ).localCheckpoint()
    return merges, state


def doc_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First _BPE_MERGES BPE merges learned from the corpus; output one row
    per round (merge_round, sym_a, sym_b, pair_count)."""
    merges, _state = _bpe_train(spark, sf_dir)
    return merges


def doc_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned BPE vocabulary corpus-wide: per document, the
    whitespace word count and the token count under the merged vocabulary
    (doc_id, n_words, n_tokens).  The encode itself is one equi-join of the
    exploded corpus against the distinct-word vocabulary table — the
    vocabulary is corpus-size-independent (distinct words), so at 100 TB
    this is a standard skew-safe shuffle join plus one combinable groupBy;
    the merge replay never touches per-occurrence rows."""
    d = load_table(spark, sf_dir, "documents")
    _merges, state = _bpe_train(spark, sf_dir)
    vocab = state.select(
        "word",
        F.size(
            F.split(F.substring(F.col("w"), 2, 1 << 30), _BPE_SEP)
        ).alias("n_syms"),
    )
    dw = d.select("doc_id", F.explode(_words(F.col("text"))).alias("word"))
    # inner join against the trained vocabulary drops the same words the
    # trainer dropped ('' and separator-bearing), keeping both engines exact.
    return (
        dw.join(vocab, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_syms").cast("long").alias("n_tokens"),
        )
    )


def _bpe_sql_ctes(k: int) -> str:
    sep = _BPE_SEP
    ctes = [
        f"""bpe_wc AS (
  SELECT word, count(*) AS freq
  FROM (SELECT unnest(string_split(lower(trim(text)), ' ')) AS word
        FROM documents)
  WHERE word <> '' AND word NOT LIKE '%{sep}%'
  GROUP BY word
)""",
        f"bpe_st0 AS MATERIALIZED (SELECT word, regexp_replace(word, '(.)', "
        f"'{sep}\\1', 'g') AS w, freq FROM bpe_wc)",
    ]
    for t in range(k):
        ctes.append(
            f"""bpe_sy{t} AS (
  SELECT string_split(substr(w, 2), '{sep}') AS s, freq FROM bpe_st{t}
)"""
        )
        ctes.append(
            f"""bpe_b{t} AS MATERIALIZED (
  SELECT s[CAST(i AS INT)] AS a, s[CAST(i AS INT) + 1] AS b,
         CAST(sum(freq) AS BIGINT) AS pair_count
  FROM bpe_sy{t}, unnest(generate_series(1, greatest(len(s) - 1, 0))) AS t(i)
  GROUP BY 1, 2 ORDER BY pair_count DESC, a, b LIMIT 1
)"""
        )
        ctes.append(
            f"bpe_st{t + 1} AS MATERIALIZED (SELECT st.word, replace(st.w, "
            f"'{sep}' || b.a || '{sep}' || b.b, '{sep}' || b.a || b.b) AS w, "
            f"st.freq FROM bpe_st{t} st, bpe_b{t} b)"
        )
    return "WITH " + ",\n".join(ctes) + "\n"


SQL_DOC_BPE_MERGES = _bpe_sql_ctes(_BPE_MERGES) + "\nUNION ALL\n".join(
    f"SELECT {t + 1} AS merge_round, a AS sym_a, b AS sym_b, pair_count "
    f"FROM bpe_b{t}"
    for t in range(_BPE_MERGES)
)

SQL_DOC_BPE_ENCODE = _bpe_sql_ctes(_BPE_MERGES) + f"""
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(len(string_split(substr(st.w, 2), '{_BPE_SEP}'))) AS BIGINT)
         AS n_tokens
FROM (SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS word
      FROM documents) dw
JOIN bpe_st{_BPE_MERGES} st USING (word)
GROUP BY doc_id
"""


def doc_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language — the multilingual-LM audit of a
    learned vocabulary: avg BPE tokens per whitespace word per language
    class (a vocabulary trained on a mixed corpus compresses its dominant
    language best; fertility quantifies the tax on the others).
    Composition of doc_bpe_encode with the corpus language column: one
    doc-id equi-join + one tiny combinable groupBy on top of its plan."""
    enc = doc_bpe_encode(spark, sf_dir)
    lang = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return (
        enc.join(lang, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("n_words"),
            F.sum("n_tokens").alias("n_tokens"),
            F.round(F.sum("n_tokens") / F.sum("n_words"), 6).alias("fertility"),
        )
    )


SQL_DOC_BPE_FERTILITY = _bpe_sql_ctes(_BPE_MERGES) + f""",
bpe_enc AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_words,
         CAST(sum(len(string_split(substr(st.w, 2), '{_BPE_SEP}'))) AS BIGINT)
           AS n_tokens
  FROM (SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS word
        FROM documents) dw
  JOIN bpe_st{_BPE_MERGES} st USING (word)
  GROUP BY doc_id
)
SELECT d.lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(e.n_words) AS BIGINT) AS n_words,
       CAST(sum(e.n_tokens) AS BIGINT) AS n_tokens,
       round(sum(e.n_tokens) / CAST(sum(e.n_words) AS DOUBLE), 6) AS fertility
FROM bpe_enc e JOIN documents d USING (doc_id)
GROUP BY d.lang
"""


# --------------------------------------------------------------------------
# temperature-scaled multilingual sampling (the mBERT/XLM-R/UniMax exponent
# trick): upsample low-resource languages by replacing the natural token
# share p_l with q_l ∝ p_l^ALPHA.  One combinable groupBy(lang) over integer
# word counts + a 1-row normalizer broadcast — nothing here grows with
# corpus size except the single lang-keyed shuffle.
# --------------------------------------------------------------------------

_TEMP_ALPHA = 0.3  # XLM-R's sampling exponent (tau = 1/alpha)


def lang_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language sampling rates under temperature-scaled mixing:
    p_l = tokens_l / total, q_l = p_l^0.3 / sum(p^0.3), boost = q_l / p_l.
    boost > 1 means the language is upsampled relative to its natural
    share (the low-resource languages), < 1 downsampled (the head)."""
    d = load_table(spark, sf_dir, "documents")
    per_lang = (
        d.select("lang", F.size(_words(F.col("text"))).alias("n_tokens"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("tokens"),
        )
    )
    tot = per_lang.agg(
        F.sum("tokens").alias("_tok_total"),
        F.sum(F.pow(F.col("tokens").cast("double"), F.lit(_TEMP_ALPHA))).alias(
            "_q_norm_raw"
        ),
    )
    # q_l ∝ p_l^a ∝ tokens_l^a (the total^a factor cancels in the
    # normalization), so the normalizer can stay in exact-integer-input
    # space: sum of tokens^a, never of p^a.
    return (
        per_lang.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_docs",
            "tokens",
            F.round(F.col("tokens") / F.col("_tok_total"), 6).alias("p"),
            F.round(
                F.pow(F.col("tokens").cast("double"), F.lit(_TEMP_ALPHA))
                / F.col("_q_norm_raw"),
                6,
            ).alias("q"),
            F.round(
                F.pow(F.col("tokens").cast("double"), F.lit(_TEMP_ALPHA))
                / F.col("_q_norm_raw")
                / (F.col("tokens") / F.col("_tok_total")),
                6,
            ).alias("boost"),
        )
        .orderBy("lang")
    )


SQL_LANG_TEMPERATURE_MIX = f"""
WITH per_lang AS (
  SELECT lang,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(string_split(lower(trim(text)), ' '))) AS BIGINT)
           AS tokens
  FROM documents GROUP BY lang
), tot AS (
  SELECT CAST(sum(tokens) AS DOUBLE) AS tok_total,
         sum(power(CAST(tokens AS DOUBLE), {_TEMP_ALPHA})) AS q_norm_raw
  FROM per_lang
)
SELECT lang, n_docs, tokens,
       round(tokens / tok_total, 6) AS p,
       round(power(CAST(tokens AS DOUBLE), {_TEMP_ALPHA}) / q_norm_raw, 6) AS q,
       round(power(CAST(tokens AS DOUBLE), {_TEMP_ALPHA}) / q_norm_raw
             / (tokens / tok_total), 6) AS boost
FROM per_lang, tot
ORDER BY lang
"""


# --------------------------------------------------------------------------
# duplicated-span detection — the corpus-linear approximation of Lee et
# al. 2022's suffix-array exact-substring dedup ("Deduplicating Training
# Data Makes Language Models Better"): hash every word-k-gram WITH its
# position, keep grams seen in >= 2 distinct docs, and merge each doc's
# hit positions into maximal islands (gaps-and-islands over a window).
# At 100 TB the gram explode is the same shape as the MinHash shingle
# pass, the gram groupBy is ONE combinable shuffle (swap count(distinct)
# for a 2-cap partial at scale), the marker semi-join is hash-keyed, and
# the island merge is one doc-partitioned window — everything linear in
# corpus size, never pairwise.
# --------------------------------------------------------------------------

_SPAN_K = 5  # word-gram width; spans shorter than K words are invisible


def _span_grams(spark: SparkSession, sf_dir: str):
    """(doc_id, n_words, p, h): md5-int64 of each word-K-gram at 1-based
    start position p (empty for docs shorter than K words)."""
    d = load_table(spark, sf_dir, "documents")
    w = d.select(
        "doc_id", _words(F.col("text")).alias("w")
    ).withColumn("n_words", F.size("w"))
    g = w.select(
        "doc_id",
        "n_words",
        F.explode(
            F.transform(
                _gram_starts(F.col("w"), _SPAN_K),
                lambda i: F.struct(
                    i.alias("p"),
                    _md5_int(
                        F.concat_ws(" ", F.slice(F.col("w"), i, _SPAN_K))
                    ).alias("h"),
                ),
            )
        ).alias("g"),
    )
    return g.select("doc_id", "n_words", F.col("g.p").alias("p"), F.col("g.h").alias("h"))


def doc_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc duplicated-span accounting: positions whose K-gram occurs
    in >= 2 distinct docs, merged into maximal token islands.  Returns one
    row per doc that contains at least one cross-doc duplicated span:
    (doc_id, n_words, n_spans, dup_tokens, dup_frac)."""
    g = _span_grams(spark, sf_dir)
    shared = (
        g.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("h")
    )
    hits = g.join(shared, "h").select("doc_id", "n_words", "p")
    wp = Window.partitionBy("doc_id").orderBy("p")
    prev_end = F.max(F.col("p") + _SPAN_K - 1).over(
        wp.rowsBetween(Window.unboundedPreceding, -1)
    )
    isl = hits.withColumn(
        "new_isl",
        F.when(
            prev_end.isNull() | (F.col("p") > prev_end + 1), F.lit(1)
        ).otherwise(F.lit(0)),
    ).withColumn(
        "isl",
        F.sum("new_isl").over(wp.rowsBetween(Window.unboundedPreceding, 0)),
    )
    spans = isl.groupBy("doc_id", "n_words", "isl").agg(
        (F.max("p") + _SPAN_K - 1 - F.min("p") + 1).alias("span_len")
    )
    return (
        spans.groupBy("doc_id", "n_words")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum("span_len").alias("dup_tokens"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_spans",
            "dup_tokens",
            F.round(
                F.col("dup_tokens") / F.col("n_words").cast("double"), 6
            ).alias("dup_frac"),
        )
    )


SQL_DOC_SPAN_DEDUP = f"""
WITH g AS (
  SELECT doc_id, n_words, s.p AS p, s.h AS h
  FROM (
    SELECT doc_id, len(w) AS n_words,
           unnest(list_transform(
             generate_series(1, greatest(len(w) - {_SPAN_K - 1}, 0)),
             i -> struct_pack(
               p := i,
               h := {_sql_md5_int(f"concat_ws(' ', list_slice(w, i, i + {_SPAN_K - 1}))")}
             )
           )) AS s
    FROM (SELECT doc_id, string_split(lower(trim(text)), ' ') AS w
          FROM documents)
  )
), shared AS (
  SELECT h FROM g GROUP BY h HAVING count(DISTINCT doc_id) >= 2
), hits AS (
  SELECT doc_id, n_words, p FROM g JOIN shared USING (h)
), isl AS (
  SELECT doc_id, n_words, p,
         sum(new_isl) OVER (PARTITION BY doc_id ORDER BY p
                            ROWS UNBOUNDED PRECEDING) AS isl
  FROM (
    SELECT doc_id, n_words, p,
           CASE WHEN prev_end IS NULL OR p > prev_end + 1 THEN 1 ELSE 0 END
             AS new_isl
    FROM (
      SELECT doc_id, n_words, p,
             max(p + {_SPAN_K} - 1) OVER (
               PARTITION BY doc_id ORDER BY p
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
      FROM hits
    )
  )
), spans AS (
  SELECT doc_id, n_words, isl,
         max(p) + {_SPAN_K} - 1 - min(p) + 1 AS span_len
  FROM isl GROUP BY doc_id, n_words, isl
)
SELECT doc_id, n_words,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(sum(span_len) AS BIGINT) AS dup_tokens,
       round(sum(span_len) / CAST(n_words AS DOUBLE), 6) AS dup_frac
FROM spans GROUP BY doc_id, n_words
"""


# --------------------------------------------------------------------------
# PPJoin-style prefix-filtered set-similarity join (§2.15 row 191; Xiao et
# al. 2008): EXACT-COMPLETE Jaccard >= tau pairs — unlike MinHash/LSH (a
# probabilistic recall trade) and unlike rare-shingle blocking
# (doc_containment, which can miss pairs whose shared shingles are all
# common), prefix filtering guarantees no false negatives: two sets with
# J >= tau MUST share a token among each one's first
# n - ceil(tau*n) + 1 tokens under ANY global token order; ordering
# rare-first (df asc) makes those prefixes maximally selective.
# Scale posture: the order is (df, shingle) compared directly — no global
# rank window; candidates come from a prefix-token equi-join (measured
# 11.8x smaller than any-shared-token blocking at gate scale) and only
# candidates are exactly verified.  All combinable groupBys + equi-joins.
# --------------------------------------------------------------------------

PP_TAU = 0.5


def doc_ppjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-complete Jaccard >= ``PP_TAU`` pairs via prefix filtering.
    Output (doc_a, doc_b, jaccard) — by the completeness guarantee this
    equals the brute-force oracle's pair set exactly."""
    sh = _shingles_df(spark, sf_dir)
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    tr = sh.join(dfreq, "shingle")
    sz = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    pos = tr.withColumn(
        "p",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy("df", "shingle")
        ),
    )
    pref = (
        pos.join(sz, "doc_id")
        .where(
            F.col("p")
            <= F.col("n") - F.ceil(F.lit(PP_TAU) * F.col("n")) + 1
        )
        .select("doc_id", "shingle")
    )
    cand = (
        pref.select(F.col("doc_id").alias("doc_a"), "shingle")
        .join(pref.select(F.col("doc_id").alias("doc_b"), "shingle"), "shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    inter = (
        cand.join(sh.select(F.col("doc_id").alias("doc_a"), "shingle"), "doc_a")
        .join(
            sh.select(F.col("doc_id").alias("doc_b"), "shingle"),
            ["doc_b", "shingle"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    return (
        inter.join(sz.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")), "doc_a")
        .join(sz.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (F.col("i") / (F.col("na") + F.col("nb") - F.col("i"))).alias("j"),
        )
        .where(F.col("j") >= PP_TAU)
        .select("doc_a", "doc_b", F.round("j", 6).alias("jaccard"))
    )


SQL_DOC_PPJOIN = f"""
WITH toks AS ({_SQL_SHINGLES}),
sz AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM toks a JOIN toks b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
FROM inter
JOIN sz sa ON sa.doc_id = doc_a
JOIN sz sb ON sb.doc_id = doc_b
WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= {PP_TAU}
"""


# --------------------------------------------------------------------------
# Reciprocal-rank fusion of sparse (BM25) and dense (embedding-cosine)
# retrieval (§2.15 row 224): the standard hybrid-retrieval combiner for a
# RAG / training-data selection pipeline.  Each system produces its own
# per-query ranking independently; RRF fuses them as
# score(d) = Σ_systems 1/(K + rank_system(d)) with K=60 (Cormack et al.),
# which needs no score calibration between systems.  Fixture: the three
# BM25 query documents double as the dense queries via the synthetic
# doc_id == vec_id identification (the tables are generated in lockstep).
# --------------------------------------------------------------------------

_RRF_K = 60
_RRF_POOL = 50   # per-system candidate pool depth fed to the fusion
_RRF_TOPK = 10


def rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion: per query, take the
    top-``_RRF_POOL`` BM25 hits and the top-``_RRF_POOL`` exact-cosine
    hits, fuse with 1/(K+rank) + 1/(K+rank), and emit the fused top-10.

    Scale posture: the sparse side is the bm25_topk shape (query terms of
    3 fixed docs broadcast against the term-sharded tf table, partial-agg
    scoring); the dense side is 3 broadcast query vectors against one
    corpus scan (never corpus x corpus); the fusion itself joins two
    (3 x POOL)-row tables — negligible at any scale.  Ranks inside each
    system use rounded-score + doc_id ordering so the pool boundary and
    the fused order are engine-independent.  Absent-from-a-system ranks
    surface as 0 (not NULL) so the output schema is nullable-free.
    Output (query_id, rank, doc_id, rrf_score, r_sparse, r_dense)."""
    d = load_table(spark, sf_dir, "documents")
    tok = (
        d.select("doc_id", F.explode(_words(F.col("text"))).alias("word"))
        .where(F.col("word") != "")
    )
    tf = tok.groupBy("word", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
    )
    df_ = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    qterms = (
        tok.where(F.col("doc_id").isin(*_BM25_QUERY_DOCS))
        .select(F.col("doc_id").alias("query_id"), "word")
        .distinct()
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_norm = (
        F.col("tf") * (_BM25_K1 + 1)
        / (
            F.col("tf")
            + _BM25_K1
            * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
        )
    )
    sparse_scored = (
        tf.join(F.broadcast(qterms), "word")
        .join(
            F.broadcast(
                df_.join(qterms, "word").select("word", "df").distinct()
            ),
            "word",
        )
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .where(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum(idf * tf_norm), 6).alias("score"))
    )
    ws = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    sparse = (
        sparse_scored.select(
            "query_id", "doc_id", F.row_number().over(ws).alias("r_sparse")
        )
        .where(F.col("r_sparse") <= _RRF_POOL)
    )

    em = load_table(spark, sf_dir, "embeddings")
    v = em.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    ).withColumn(
        "nrm", F.sqrt(F.aggregate("e", F.lit(0.0), lambda a, x: a + x * x))
    )
    q = v.where(F.col("vec_id").isin(*_BM25_QUERY_DOCS)).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    dot = F.aggregate(
        F.zip_with("qe", "e", lambda a, b: a * b), F.lit(0.0), lambda a, x: a + x
    )
    dsims = (
        F.broadcast(q)
        .crossJoin(v)
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("doc_id"),
            F.round(dot / (F.col("qn") * F.col("nrm")), 6).alias("cs"),
        )
    )
    wd = Window.partitionBy("query_id").orderBy(F.desc("cs"), F.asc("doc_id"))
    dense = (
        dsims.select(
            "query_id", "doc_id", F.row_number().over(wd).alias("r_dense")
        )
        .where(F.col("r_dense") <= _RRF_POOL)
    )

    fused = sparse.join(dense, ["query_id", "doc_id"], "full_outer")
    contrib_s = F.when(
        F.col("r_sparse").isNotNull(),
        F.lit(1.0) / (F.lit(_RRF_K) + F.col("r_sparse")),
    ).otherwise(F.lit(0.0))
    contrib_d = F.when(
        F.col("r_dense").isNotNull(),
        F.lit(1.0) / (F.lit(_RRF_K) + F.col("r_dense")),
    ).otherwise(F.lit(0.0))
    scored = fused.select(
        "query_id",
        "doc_id",
        F.round(contrib_s + contrib_d, 6).alias("rrf_score"),
        F.coalesce(F.col("r_sparse"), F.lit(0)).cast("int").alias("r_sparse"),
        F.coalesce(F.col("r_dense"), F.lit(0)).cast("int").alias("r_dense"),
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_score"), F.asc("doc_id")
    )
    return (
        scored.select(
            "query_id",
            F.row_number().over(wf).alias("rank"),
            "doc_id",
            "rrf_score",
            "r_sparse",
            "r_dense",
        )
        .where(F.col("rank") <= _RRF_TOPK)
        .orderBy("query_id", "rank")
    )


SQL_RRF_FUSION = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS word
  FROM documents
), tok2 AS (
  SELECT doc_id, word FROM tok WHERE word <> ''
), tf AS (
  SELECT word, doc_id, CAST(count(*) AS BIGINT) AS tf
  FROM tok2 GROUP BY word, doc_id
), dl AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok2 GROUP BY doc_id
), stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
  FROM dl
), dfr AS (
  SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY word
), qterms AS (
  SELECT DISTINCT doc_id AS query_id, word FROM tok2
  WHERE doc_id IN {_BM25_QUERY_DOCS}
), sparse_scored AS (
  SELECT q.query_id, tf.doc_id,
         round(sum(
           ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
           * tf.tf * ({_BM25_K1} + 1)
           / (tf.tf + {_BM25_K1}
              * (1 - {_BM25_B} + {_BM25_B} * dl.dl / s.avgdl))
         ), 6) AS score
  FROM tf
  JOIN qterms q ON q.word = tf.word
  JOIN dfr d ON d.word = tf.word
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  WHERE tf.doc_id <> q.query_id
  GROUP BY q.query_id, tf.doc_id
), sparse AS (
  SELECT query_id, doc_id, r_sparse FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, doc_id) AS r_sparse
    FROM sparse_scored
  ) WHERE r_sparse <= {_RRF_POOL}
), v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), dsims AS (
  SELECT q.vec_id AS query_id, v.vec_id AS doc_id,
         round(list_cosine_similarity(q.e, v.e), 6) AS cs
  FROM v q JOIN v ON v.vec_id <> q.vec_id
  WHERE q.vec_id IN {_BM25_QUERY_DOCS}
), dense AS (
  SELECT query_id, doc_id, r_dense FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cs DESC, doc_id) AS r_dense
    FROM dsims
  ) WHERE r_dense <= {_RRF_POOL}
), fused AS (
  SELECT COALESCE(s.query_id, d.query_id) AS query_id,
         COALESCE(s.doc_id, d.doc_id) AS doc_id,
         round(
           CASE WHEN s.r_sparse IS NULL THEN 0.0
                ELSE 1.0 / ({_RRF_K} + s.r_sparse) END
           + CASE WHEN d.r_dense IS NULL THEN 0.0
                  ELSE 1.0 / ({_RRF_K} + d.r_dense) END, 6) AS rrf_score,
         CAST(COALESCE(s.r_sparse, 0) AS INT) AS r_sparse,
         CAST(COALESCE(d.r_dense, 0) AS INT) AS r_dense
  FROM sparse s
  FULL OUTER JOIN dense d
    ON s.query_id = d.query_id AND s.doc_id = d.doc_id
)
SELECT query_id, CAST(rank AS INT) AS rank, doc_id, rrf_score,
       r_sparse, r_dense
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY rrf_score DESC, doc_id) AS rank
  FROM fused
)
WHERE rank <= {_RRF_TOPK}
ORDER BY query_id, rank
"""


# --------------------------------------------------------------------------
# Maximal-marginal-relevance diversified re-ranking (§2.15 row 225):
# Carbonell-Goldstein SIGIR'98 — the greedy rerank every retrieval corpus
# build uses to de-duplicate a result list before it reaches a context
# window.  Greedy step: argmax_d  mu_rel*rel(d) - mu_div*max_{s in S}
# sim(d, s); the first pick is pure relevance.  Sequential by nature, so
# the Spark shape is a grouped VECTORIZED pandas map over per-query
# candidate pools (bounded at _MMR_POOL rows — never corpus-sized), and
# the oracle is the same greedy unrolled to _MMR_K picks in SQL.
# --------------------------------------------------------------------------

_MMR_REL = 0.7   # relevance weight  (emitted into BOTH engines' literals
_MMR_DIV = 0.3   # diversity weight   via repr so the doubles are identical)
_MMR_POOL = 20
_MMR_K = 5


def mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified top-``_MMR_K`` per query over the exact-cosine
    top-``_MMR_POOL`` candidate pool.

    Scale posture: relevance = 3 broadcast query vectors against one
    corpus scan; the sequential greedy runs inside ``applyInPandas`` on
    20-row groups (numpy pairwise sims on a 20x20 block) — the work per
    query is O(POOL^2) regardless of corpus size, and queries fan out
    across partitions.  Cross-engine determinism: rel and candidate
    pairwise sims are rounded to 6 decimals BEFORE the greedy, the score
    arithmetic uses the same decimal literals both sides, and every
    argmax tiebreaks by doc_id.  Output (query_id, rank, doc_id,
    mmr_score, rel)."""
    em = load_table(spark, sf_dir, "embeddings")
    v = em.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    ).withColumn(
        "nrm", F.sqrt(F.aggregate("e", F.lit(0.0), lambda a, x: a + x * x))
    )
    q = v.where(F.col("vec_id").isin(*_BM25_QUERY_DOCS)).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    dot = F.aggregate(
        F.zip_with("qe", "e", lambda a, b: a * b), F.lit(0.0), lambda a, x: a + x
    )
    sims = (
        F.broadcast(q)
        .crossJoin(v)
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("doc_id"),
            F.round(dot / (F.col("qn") * F.col("nrm")), 6).alias("rel"),
            "e",
            "nrm",
        )
    )
    wp = Window.partitionBy("query_id").orderBy(F.desc("rel"), F.asc("doc_id"))
    cand = sims.withColumn("rk", F.row_number().over(wp)).where(
        F.col("rk") <= _MMR_POOL
    )

    # pairwise candidate sims rounded JVM-side with F.round (the same
    # half-up rounding DuckDB uses); the greedy UDF then works on inputs
    # that are bit-identical across engines, so its score arithmetic —
    # and therefore the emitted unrounded double — is too.
    pdot = F.aggregate(
        F.zip_with("e", "eb", lambda a, b: a * b), F.lit(0.0), lambda a, x: a + x
    )
    pairs = (
        cand.select("query_id", "doc_id", "e", "nrm")
        .join(
            cand.select(
                "query_id",
                F.col("doc_id").alias("db"),
                F.col("e").alias("eb"),
                F.col("nrm").alias("nb"),
            ),
            "query_id",
        )
        .where(F.col("db") != F.col("doc_id"))
        .select(
            "query_id",
            "doc_id",
            "db",
            F.round(pdot / (F.col("nrm") * F.col("nb")), 6).alias("s"),
        )
    )
    simarr = pairs.groupBy("query_id", "doc_id").agg(
        F.array_sort(F.collect_list(F.struct("db", "s"))).alias("sims")
    )
    g = cand.select("query_id", "doc_id", "rel").join(
        simarr, ["query_id", "doc_id"]
    )

    mu_rel, mu_div, k = _MMR_REL, _MMR_DIV, _MMR_K

    def _greedy(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        ids = pdf["doc_id"].to_numpy(np.int64)
        rel = pdf["rel"].to_numpy(np.float64)
        n = len(ids)
        pos = {int(i): p for p, i in enumerate(ids)}
        s = np.zeros((n, n), dtype=np.float64)
        for i, row in enumerate(pdf["sims"]):
            for ent in row:
                s[i, pos[int(ent["db"])]] = float(ent["s"])
        picked: list[int] = []
        scores: list[float] = []
        avail = np.ones(n, dtype=bool)
        for step in range(min(k, n)):
            if step == 0:
                sc = rel.copy()
            else:
                ms = s[:, picked].max(axis=1)
                sc = mu_rel * rel - mu_div * ms
            sc_m = np.where(avail, sc, -np.inf)
            best = int(np.flatnonzero(sc_m == sc_m.max())[0])  # doc_id tiebreak
            picked.append(best)
            scores.append(float(sc_m[best]))
            avail[best] = False
        return pd.DataFrame(
            {
                "query_id": pdf["query_id"].iloc[0],
                "rank": np.arange(1, len(picked) + 1, dtype=np.int32),
                "doc_id": ids[picked],
                "mmr_score": scores,
                "rel": rel[picked],
            }
        )

    return (
        g.groupBy("query_id")
        .applyInPandas(
            _greedy,
            "query_id long, rank int, doc_id long, mmr_score double, rel double",
        )
        .orderBy("query_id", "rank")
    )


def _mmr_sql(k: int) -> str:
    """Unrolled ``k``-pick greedy MMR oracle (same pools, literals,
    rounding, and doc_id tiebreaks as the Spark side)."""
    ctes = [
        f"""v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
)""",
        f"""cand AS (
  SELECT query_id, doc_id, rel, e FROM (
    SELECT q.vec_id AS query_id, v.vec_id AS doc_id,
           round(list_cosine_similarity(q.e, v.e), 6) AS rel, v.e AS e,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY round(list_cosine_similarity(q.e, v.e), 6) DESC,
                      v.vec_id) AS rk
    FROM v q JOIN v ON v.vec_id <> q.vec_id
    WHERE q.vec_id IN {_BM25_QUERY_DOCS}
  ) WHERE rk <= {_MMR_POOL}
)""",
        """pairs AS (
  SELECT a.query_id, a.doc_id AS da, b.doc_id AS db,
         round(list_cosine_similarity(a.e, b.e), 6) AS s
  FROM cand a JOIN cand b
    ON a.query_id = b.query_id AND a.doc_id <> b.doc_id
)""",
        """pick1 AS (
  SELECT query_id, doc_id, rel AS score, rel FROM (
    SELECT query_id, doc_id, rel,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY rel DESC, doc_id) AS rn
    FROM cand
  ) WHERE rn = 1
)""",
        "sel1 AS (SELECT query_id, doc_id FROM pick1)",
    ]
    for i in range(2, k + 1):
        ctes.append(
            f"""pick{i} AS (
  SELECT query_id, doc_id, score, rel FROM (
    SELECT c.query_id, c.doc_id,
           {_MMR_REL!r} * c.rel - {_MMR_DIV!r} * ms.m AS score, c.rel,
           row_number() OVER (
             PARTITION BY c.query_id
             ORDER BY {_MMR_REL!r} * c.rel - {_MMR_DIV!r} * ms.m DESC,
                      c.doc_id) AS rn
    FROM cand c
    JOIN (
      SELECT p.query_id, p.da AS doc_id, max(p.s) AS m
      FROM pairs p JOIN sel{i - 1} s
        ON p.query_id = s.query_id AND p.db = s.doc_id
      GROUP BY p.query_id, p.da
    ) ms ON ms.query_id = c.query_id AND ms.doc_id = c.doc_id
    ANTI JOIN sel{i - 1} s2
      ON s2.query_id = c.query_id AND s2.doc_id = c.doc_id
  ) WHERE rn = 1
)"""
        )
        ctes.append(
            f"sel{i} AS (SELECT * FROM sel{i - 1} "
            f"UNION ALL SELECT query_id, doc_id FROM pick{i})"
        )
    unions = "\nUNION ALL\n".join(
        f"SELECT query_id, CAST({i} AS INT) AS rank, doc_id, "
        f"score AS mmr_score, rel FROM pick{i}"
        for i in range(1, k + 1)
    )
    return (
        "WITH " + ",\n".join(ctes) + "\nSELECT * FROM (\n" + unions
        + "\n) ORDER BY query_id, rank"
    )


SQL_MMR_RERANK = _mmr_sql(_MMR_K)


# --------------------------------------------------------------------------
# Content-defined chunking (§2.15 row 240): split each token stream at
# positions where the hash of the trailing 4-token window ≡ 0 (mod 16) —
# the rolling-boundary trick (FastCDC / rsync / LBFS) that makes chunk
# boundaries SELF-ALIGNING: two documents sharing a token run converge to
# identical chunks after at most one window, unlike fixed-size chunking
# where a 1-token insertion shifts every later chunk.  A deterministic
# shared tail is appended to every doc (the fixture discipline) so the
# cross-doc chunk-sharing machinery provably fires.
# --------------------------------------------------------------------------

_CDC_W = 4         # trailing-window width (tokens)
_CDC_MOD = 16      # boundary when window-hash % 16 == 0 (avg 16-token chunks)
_CDC_TAIL = (
    "standard footer alpha bravo charlie delta echo foxtrot golf hotel "
    "india juliet kilo lima mike november"
)


def doc_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document content-defined chunking summary with cross-doc chunk
    sharing.

    Scale posture: ONE doc-keyed window shuffle carries the 3 lag()s, the
    boundary flag, and the exclusive cumsum that assigns chunk ids; chunk
    fingerprints reduce by (doc, chunk) then by fp — both combinable; the
    share join is a narrow int64-fp equi-join.  Nothing is quadratic and
    the payload never re-shuffles after the first window.  Output
    (doc_id, n_tokens, n_chunks, max_chunk_toks, n_shared_chunks)."""
    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        F.concat(F.lower(F.trim("text")), F.lit(" " + _CDC_TAIL)).alias("t2"),
    )
    words = base.select(
        "doc_id", F.posexplode(F.split("t2", " ")).alias("pos", "w")
    )
    win = Window.partitionBy("doc_id").orderBy("pos")
    gram = F.concat_ws(
        " ",
        F.lag("w", 3).over(win),
        F.lag("w", 2).over(win),
        F.lag("w", 1).over(win),
        F.col("w"),
    )
    flagged = words.select(
        "doc_id",
        "pos",
        "w",
        (
            (F.col("pos") >= _CDC_W - 1)
            & (F.pmod(_md5_int(gram), F.lit(_CDC_MOD)) == 0)
        ).cast("long").alias("boundary"),
    )
    chunked = flagged.select(
        "doc_id",
        "pos",
        "w",
        F.coalesce(
            F.sum("boundary").over(
                win.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("chunk"),
    )
    chunks = (
        chunked.groupBy("doc_id", "chunk")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            _md5_int(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "w"))),
                        lambda s: s["w"],
                    ),
                    " ",
                )
            ).alias("fp"),
        )
    )
    share = chunks.groupBy("fp").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    tagged = chunks.join(share, "fp")
    return (
        tagged.groupBy("doc_id")
        .agg(
            F.sum("n_toks").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_chunks"),
            F.max("n_toks").alias("max_chunk_toks"),
            F.sum((F.col("n_docs") >= 2).cast("long")).alias(
                "n_shared_chunks"
            ),
        )
        .orderBy("doc_id")
    )


SQL_DOC_CDC_CHUNKS = f"""
WITH base AS (
  SELECT doc_id, lower(trim(text)) || ' {_CDC_TAIL}' AS t2 FROM documents
), words AS (
  SELECT doc_id, g.i - 1 AS pos, w[g.i] AS w
  FROM (SELECT doc_id, string_split(t2, ' ') AS w FROM base),
       LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) g
), flagged AS (
  SELECT doc_id, pos, w,
         CASE WHEN pos >= {_CDC_W - 1}
               AND ({_sql_md5_int(
                   "lag(w, 3) OVER dw || ' ' || lag(w, 2) OVER dw || ' ' || "
                   "lag(w, 1) OVER dw || ' ' || w"
               )}) % {_CDC_MOD} = 0
              THEN 1 ELSE 0 END AS boundary
  FROM words
  WINDOW dw AS (PARTITION BY doc_id ORDER BY pos)
), chunked AS (
  SELECT doc_id, pos, w,
         COALESCE(sum(boundary) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk
  FROM flagged
), chunks AS (
  SELECT doc_id, chunk,
         CAST(count(*) AS BIGINT) AS n_toks,
         {_sql_md5_int("string_agg(w, ' ' ORDER BY pos)")} AS fp
  FROM chunked GROUP BY doc_id, chunk
), share AS (
  SELECT fp, count(DISTINCT doc_id) AS n_docs FROM chunks GROUP BY fp
)
SELECT c.doc_id,
       CAST(sum(c.n_toks) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_chunks,
       max(c.n_toks) AS max_chunk_toks,
       CAST(sum(CASE WHEN s.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_shared_chunks
FROM chunks c JOIN share s ON s.fp = c.fp
GROUP BY c.doc_id
ORDER BY c.doc_id
"""


def registry() -> dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]]:
    return {
        "doc_split": (doc_split, SQL_DOC_SPLIT),
        "simhash_pairs": (simhash_pairs, SQL_SIMHASH_PAIRS),
        "doc_winnow": (doc_winnow, SQL_DOC_WINNOW),
        "split_ks": (split_ks, SQL_SPLIT_KS),
        "doc_split_leakfree": (doc_split_leakfree, SQL_DOC_SPLIT_LEAKFREE),
        "doc_shard_hrw": (doc_shard_hrw, SQL_DOC_SHARD_HRW),
        "doc_dedup_best": (doc_dedup_best, SQL_DOC_DEDUP_BEST),
        "doc_span_mask": (doc_span_mask, SQL_DOC_SPAN_MASK),
        "doc_dedup_sources": (doc_dedup_sources, SQL_DOC_DEDUP_SOURCES),
        "doc_exact_dedup": (doc_exact_dedup, SQL_DOC_EXACT_DEDUP),
        "doc_minhash": (doc_minhash, SQL_DOC_MINHASH),
        "doc_near_dups": (doc_near_dups, SQL_DOC_NEAR_DUPS),
        "doc_ppjoin": (doc_ppjoin, SQL_DOC_PPJOIN),
        "doc_dedup_clusters": (doc_dedup_clusters, SQL_DOC_DEDUP_CLUSTERS),
        "doc_dedup_retention": (doc_dedup_retention, SQL_DOC_DEDUP_RETENTION),
        "doc_simhash": (doc_simhash, SQL_DOC_SIMHASH),
        "doc_token_stats": (doc_token_stats, SQL_DOC_TOKEN_STATS),
        "doc_quality": (doc_quality, SQL_DOC_QUALITY),
        "doc_langid": (doc_langid, SQL_DOC_LANGID),
        "doc_quality_filter": (doc_quality_filter, SQL_DOC_QUALITY_FILTER),
        "inverted_index": (inverted_index, SQL_INVERTED_INDEX),
        "bm25_topk": (bm25_topk, SQL_BM25_TOPK),
        "rrf_fusion": (rrf_fusion, SQL_RRF_FUSION),
        "mmr_rerank": (mmr_rerank, SQL_MMR_RERANK),
        "doc_cdc_chunks": (doc_cdc_chunks, SQL_DOC_CDC_CHUNKS),
        "langid_confusion": (langid_confusion, SQL_LANGID_CONFUSION),
        "word_pmi": (word_pmi, SQL_WORD_PMI),
        "doc_fingerprint": (doc_fingerprint, SQL_DOC_FINGERPRINT),
        "ann_topk_cosine": (ann_topk_cosine, SQL_ANN_TOPK),
        "doc_tfidf": (doc_tfidf, SQL_DOC_TFIDF),
        "doc_keywords": (doc_keywords, SQL_DOC_KEYWORDS),
        "doc_bigram_topk": (doc_bigram_topk, SQL_DOC_BIGRAM),
        "doc_bigram_lm": (doc_bigram_lm, SQL_DOC_BIGRAM_LM),
        "doc_stratified_sample": (doc_stratified_sample, SQL_DOC_STRATIFIED),
        "doc_pack_sequences": (doc_pack_sequences, SQL_DOC_PACK),
        "doc_chunk": (doc_chunk, SQL_DOC_CHUNK),
        "doc_contamination": (doc_contamination, SQL_DOC_CONTAMINATION),
        "doc_length_buckets": (doc_length_buckets, SQL_DOC_LENGTH_BUCKETS),
        "doc_weighted_sample": (doc_weighted_sample, SQL_DOC_WEIGHTED_SAMPLE),
        "doc_mixture_sample": (doc_mixture_sample, SQL_DOC_MIXTURE_SAMPLE),
        "doc_containment_pairs": (doc_containment, SQL_DOC_CONTAINMENT),
        "doc_dsir_select": (doc_dsir_select, SQL_DOC_DSIR),
        "doc_bpe_merges": (doc_bpe_merges, SQL_DOC_BPE_MERGES),
        "doc_bpe_encode": (doc_bpe_encode, SQL_DOC_BPE_ENCODE),
        "doc_bpe_fertility": (doc_bpe_fertility, SQL_DOC_BPE_FERTILITY),
        "lang_temperature_mix": (lang_temperature_mix, SQL_LANG_TEMPERATURE_MIX),
        "doc_span_dedup": (doc_span_dedup, SQL_DOC_SPAN_DEDUP),
        "doc_edit_dups": (doc_edit_dups, SQL_DOC_EDIT_DUPS),
        "ann_trunc_recall": (ann_trunc_recall, SQL_ANN_TRUNC_RECALL),
    }
