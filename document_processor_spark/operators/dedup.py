"""Deduplication operators over the `documents` corpus — the training-data
pipeline ops a 100 TB ingest needs (exact, MinHash+LSH, SimHash, n-gram
Jaccard, embedding-cosine near-dup).

Spark-first design notes (what survives a 1000-executor scale-up):

* exact dedup: one hash-shuffle on md5(text) with map-side partial agg.
* MinHash+LSH: signatures are per-doc (narrow); the candidate join is on
  (band, minhash) buckets — only documents sharing a bucket ever meet, so
  the join fan-out is bounded by bucket size, not corpus size; AQE splits
  skewed buckets.
* n-gram Jaccard here is scoped to (source, lang) groups: the all-pairs
  verify is what MinHash avoids at scale — kept as the small-side oracle.
* SimHash: 16-bit signatures via bit-vote aggregation, pairs by signature
  bucket then Hamming verify (bit_count(xor)).
* embedding near-dup: exact-order double fold for bit-identical parity with
  the DuckDB oracle (same left-to-right summation).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from ._scan import read_table

N_BANDS = 8
MINHASH_ROWS_PER_BAND = 2   # r>=2: band collision needs r hash agreements,
                            # cutting the false-candidate rate at scale
MINHASH_JACCARD_T = 0.5
NGRAM_JACCARD_T = 0.3
SIMHASH_BITS = 16
SIMHASH_HAMMING_T = 2
# max pairwise cosine in the synthetic embeddings is ~0.51; 0.4 marks the
# top tail as "near-dup" so the operator has a non-trivial result to verify
COSINE_T = 0.4


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "documents")


def _pin(df: DataFrame) -> DataFrame:
    """Materialization pin for an intermediate referenced by several plan
    branches.  Lazy localCheckpoint instead of persist(): the backing RDD
    blocks are released by the ContextCleaner as soon as the DataFrame is
    garbage-collected, so repeated driver queries in a long-lived session
    don't accumulate pinned caches (persist() entries sit in the
    CacheManager until manually unpersisted — the r1 cache leak).

    localCheckpoint blocks are NOT fault-tolerant: an executor loss
    recomputes from nothing.  A cluster run sets
    ``spark.document_processor.pin=checkpoint`` (plus
    ``sc.setCheckpointDir`` to a durable store) to pin via a RELIABLE
    checkpoint instead — the write costs one extra pass but survives
    executor loss, which at 10^12-row scale is a certainty, not a risk."""
    sess = df.sparkSession
    if sess.conf.get("spark.document_processor.pin", "local") == "checkpoint":
        return df.checkpoint(eager=False)
    return df.localCheckpoint(eager=False)


# -- exact dedup ---------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return (d.groupBy(F.md5("text").alias("content_hash"))
            .agg(F.min("doc_id").alias("keeper_doc_id"),
                 F.count(F.lit(1)).alias("n_docs")))


SQL_DEDUP_EXACT = """
SELECT md5(text) AS content_hash,
       min(doc_id) AS keeper_doc_id,
       count(*) AS n_docs
FROM documents
GROUP BY md5(text)
"""


def q_dedup_soft(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft deduplication — keep every copy but reweight it by its
    duplicate-group size (SoftDeDup, He et al. 2024: down-weight common
    data instead of dropping it, so the loss contribution of a text seen
    n times totals one unit regardless of n).  weight_ppm = 1e6 div n in
    exact integer ppm; the sampled-training-loss reweighting is then a
    map-only lookup at trainer time.

    Scale shape: identical to dedup_exact — ONE mergeable groupBy on the
    64-hex content hash (map-side partial counts) plus a co-partitioned
    equi-join back on the same key; no window (a 10^7-copy boilerplate
    group would pin one task), no broadcast of the group table (distinct
    texts ~ corpus size at web scale)."""
    d = _docs(spark, sf_dir).select(
        "doc_id", F.md5("text").alias("content_hash"))
    groups = d.groupBy("content_hash").agg(
        F.count(F.lit(1)).alias("dup_count"))
    return (d.join(groups, "content_hash")
            .select("doc_id", "content_hash",
                    F.col("dup_count").cast("bigint").alias("dup_count"),
                    F.expr("1000000 div dup_count").cast("bigint")
                    .alias("weight_ppm")))


SQL_DEDUP_SOFT = """
WITH d AS (SELECT doc_id, md5(text) AS content_hash FROM documents),
g AS (SELECT content_hash, count(*) AS dup_count FROM d GROUP BY content_hash)
SELECT doc_id, content_hash,
       CAST(dup_count AS BIGINT) AS dup_count,
       CAST(1000000 // dup_count AS BIGINT) AS weight_ppm
FROM d JOIN g USING (content_hash)
"""


# -- shingles (shared by minhash + jaccard) --------------------------------------

# r6 build-cost note (measured, OPTIMIZATION_r06.md): assembling these
# expressions Column-op-by-Column-op costs hundreds of py4j round trips
# per query BUILD — 0.85 s of the 1.2 s minhash wall was driver-side
# construction, not execution.  The same expressions written as ONE SQL
# string parse JVM-side in a single call; the analyzed tree (slice +
# zip_with shape, lambda bodies, fold order) is unchanged, so results are
# bit-identical (pinned by tests/test_r6_optimizations.py equivalence).

_CAT_SHINGLES = """
CASE WHEN size(split(text, ' ', -1)) >= 3
     THEN array_distinct(
            zip_with(
              zip_with(slice(split(text, ' ', -1), 1, size(split(text, ' ', -1)) - 2),
                       slice(split(text, ' ', -1), 2, size(split(text, ' ', -1)) - 2),
                       (x, y) -> concat(x, ' ', y)),
              slice(split(text, ' ', -1), 3, size(split(text, ' ', -1)) - 2),
              (x, y) -> concat(x, ' ', y)))
     ELSE CAST(array() AS ARRAY<STRING>) END
"""


def _shingles_col():
    """Distinct 3-word shingles of the text, [] when under 3 words.

    Built with slice + zip_with rather than element_at inside a transform
    lambda: higher-order functions run on the interpreted eval path (no
    whole-stage codegen), where every expression INSIDE the lambda body is
    re-evaluated per element — the r1 formulation re-ran split(text) three
    times per shingle, O(words²) per document.  zip_with's array arguments
    are evaluated once per row; the lambda touches only its variables."""
    return F.expr(_CAT_SHINGLES)


def _sql_shingles(rel: str = "documents") -> str:
    """DuckDB shingle CTE body over any relation with (doc_id, text)."""
    return f"""
  SELECT doc_id,
         CASE WHEN len(string_split(text,' ')) >= 3
              THEN list_distinct(list_transform(
                     generate_series(1, len(string_split(text,' ')) - 2),
                     i -> string_split(text,' ')[i] || ' ' ||
                          string_split(text,' ')[i+1] || ' ' ||
                          string_split(text,' ')[i+2]))
              ELSE [] END AS shingles
  FROM {rel}
"""


_SQL_SHINGLES = _sql_shingles()


# -- MinHash + LSH near-dup --------------------------------------------------------

# One strong hash per shingle, then k-th minhash = min over shingles of the
# linear permutation (a_k*x + b_k) mod P — the classic universal-hash family.
# Cuts hashing from (bands*r) md5 passes per shingle array (the r1.5 design,
# whose giant generated method ran interpreted for the first several calls —
# 90s cold vs 20s steady) to ONE md5 pass plus cheap integer transforms.
# P = 2^31-1 (Mersenne prime): a*x < 2^62 never overflows int64.
MINHASH_P = 2_147_483_647
# fixed odd multipliers/offsets (Knuth multiplicative constants, mod P);
# literals shared verbatim by the Spark and DuckDB sides
_MINHASH_AB = [((k * 2_654_435_761 + 1) % MINHASH_P or 1,
                (k * 40_503 * 65_537 + 12_345) % MINHASH_P)
               for k in range(N_BANDS * MINHASH_ROWS_PER_BAND)]


def _shingle_ints_col():
    """array<bigint>: first 60 bits of md5(shingle), mod P.  (Single-parse
    SQL string — see the r6 build-cost note above.)"""
    return F.expr(
        "transform(shingles, s -> CAST(conv(substring(md5(s), 1, 15), 16, 10)"
        f" AS BIGINT) % {MINHASH_P})")


def _band_sigs_col():
    """Per-document LSH band signatures computed NARROWLY (no explode, no
    groupBy shuffle): band b's signature joins r minhashes
    min((a_k*x + b_k) mod P) with k = b*r .. b*r+r-1 over the per-shingle
    ints `xs`.  One projection replaces the r1 design's 8× row explode +
    hash-shuffle aggregation — the signature stage shuffles nothing.
    (Single-parse SQL string — see the r6 build-cost note above.)"""
    def mh(k: int) -> str:
        a, b = _MINHASH_AB[k]
        return (f"CAST(array_min(transform(xs, x -> ({a} * x + {b})"
                f" % {MINHASH_P})) AS STRING)")
    structs = ", ".join(
        "named_struct('band', {b}, 'mh', concat_ws('|', {parts}))".format(
            b=b, parts=", ".join(mh(b * MINHASH_ROWS_PER_BAND + i)
                                 for i in range(MINHASH_ROWS_PER_BAND)))
        for b in range(N_BANDS))
    return F.expr(f"array({structs})")


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """shingle → per-band (r=2) minhash signatures (narrow) → bucket-join
    candidates → exact Jaccard verify.  The pin on the shingle sets serves
    the signature build and both sides of the verify join."""
    d = _docs(spark, sf_dir)
    sh = _pin(d.select("doc_id", _shingles_col().alias("shingles"))
              .filter(F.size("shingles") > 0))
    # r6: the signature table is pinned too — it feeds BOTH sides of the
    # bucket self-join, and without the pin each side re-ran the md5 pass
    # (_shingle_ints_col) and all bands*r minhash folds.  The pinned rows
    # are narrow (doc_id, band, mh): one signature computation total.
    sig = _pin(sh.withColumn("xs", _shingle_ints_col())
               .select("doc_id", F.explode(_band_sigs_col()).alias("bs"))
               .select("doc_id", F.col("bs.band").alias("band"),
                       F.col("bs.mh").alias("mh")))
    cand = (sig.alias("a").join(sig.alias("b"), ["band", "mh"])
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
            .distinct())
    j = (cand.join(sh.select(F.col("doc_id").alias("d1"),
                             F.col("shingles").alias("s1")), "d1")
         .join(sh.select(F.col("doc_id").alias("d2"),
                         F.col("shingles").alias("s2")), "d2"))
    inter = F.size(F.array_intersect("s1", "s2"))
    union = F.size("s1") + F.size("s2") - inter
    jac = inter.cast("double") / union.cast("double")
    return (j.select("d1", "d2", F.round(jac, 4).alias("jaccard"))
            .filter(F.col("jaccard") >= MINHASH_JACCARD_T))


def _sql_band_sig(b: int) -> str:
    parts = []
    for i in range(MINHASH_ROWS_PER_BAND):
        a, c = _MINHASH_AB[b * MINHASH_ROWS_PER_BAND + i]
        parts.append(
            "CAST(list_aggregate(list_transform(xs, "
            f"x -> ({a} * x + {c}) % {MINHASH_P}), 'min') AS VARCHAR)")
    return " || '|' || ".join(parts)


SQL_DEDUP_MINHASH_LSH = f"""
WITH sh AS ({_SQL_SHINGLES}),
nonempty AS (
  SELECT doc_id, shingles,
         list_transform(shingles,
           s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % {MINHASH_P}) AS xs
  FROM sh WHERE len(shingles) > 0),
sig AS (
  SELECT doc_id, b.band AS band,
         CASE {' '.join(f'WHEN b.band = {b} THEN {_sql_band_sig(b)}' for b in range(N_BANDS))}
         END AS mh
  FROM nonempty, (SELECT unnest(generate_series(0, {N_BANDS - 1})) AS band) b
),
cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM sig a JOIN sig b USING (band, mh)
  WHERE a.doc_id < b.doc_id
),
j AS (
  SELECT c.d1, c.d2,
         len(list_intersect(x.shingles, y.shingles)) AS inter,
         len(x.shingles) + len(y.shingles)
           - len(list_intersect(x.shingles, y.shingles)) AS un
  FROM cand c
  JOIN nonempty x ON x.doc_id = c.d1
  JOIN nonempty y ON y.doc_id = c.d2
)
SELECT d1, d2, round(CAST(inter AS DOUBLE) / CAST(un AS DOUBLE), 4) AS jaccard
FROM j
WHERE round(CAST(inter AS DOUBLE) / CAST(un AS DOUBLE), 4) >= {MINHASH_JACCARD_T}
"""


# -- n-gram Jaccard within (source, lang) groups ------------------------------------

NGRAM_HOT_SHINGLE_MAX = 50_000

_log = logging.getLogger(__name__)


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str,
                          hot_shingle_max: int = NGRAM_HOT_SHINGLE_MAX
                          ) -> DataFrame:
    """EXACT n-gram Jaccard within (source, lang) groups via an inverted
    shingle index — never an all-pairs group cross-join.  Shingle arrays
    are distinct, so after exploding to postings the number of join hits
    per document pair IS |intersection|; one count aggregation and the
    carried set sizes give Jaccard.  Any pair with Jaccard >= T (> 0)
    shares at least one shingle, so the posting join loses nothing.  Join
    fan-out is bounded by posting-list length (AQE skew-join splits hot
    shingles), and ultra-frequent shingles — whose posting lists would
    produce O(len²) candidate fan-out at corpus scale — are STOP-LISTED:
    any shingle appearing in more than `hot_shingle_max` documents of a
    (source, lang) group is dropped from the index, and the number of
    dropped shingles is logged (never silent).  The default threshold
    exceeds any fixture posting length, so small-scale results are exact;
    at 10^12 docs the stoplist is what bounds the worst-case join."""
    d = _docs(spark, sf_dir)
    sh = _pin(d.select("doc_id", "source", "lang",
                       _shingles_col().alias("shingles"))
              .filter(F.size("shingles") > 0))
    post = sh.select("source", "lang", "doc_id",
                     F.size("shingles").alias("n"),
                     F.explode("shingles").alias("s"))
    hot = _pin(post.groupBy("source", "lang", "s")
               .agg(F.count(F.lit(1)).alias("df_s"))
               .filter(F.col("df_s") > hot_shingle_max))
    n_hot = hot.count()  # tiny by construction (shingles above the cap)
    if n_hot:
        _log.warning(
            "ngram-jaccard stoplist: dropping %d hot shingles "
            "(> %d postings each) from the inverted index",
            n_hot, hot_shingle_max)
        post = post.join(F.broadcast(hot.select("source", "lang", "s")),
                         ["source", "lang", "s"], "left_anti")
    a = post.select("source", "lang", "s", F.col("doc_id").alias("d1"),
                    F.col("n").alias("n1"))
    b = post.select("source", "lang", "s", F.col("doc_id").alias("d2"),
                    F.col("n").alias("n2"))
    inter = (a.join(b, ["source", "lang", "s"])
             .filter(F.col("d1") < F.col("d2"))
             .groupBy("d1", "d2", "n1", "n2")
             .agg(F.count(F.lit(1)).alias("inter")))
    union = F.col("n1") + F.col("n2") - F.col("inter")
    jac = F.col("inter").cast("double") / union.cast("double")
    return (inter.select("d1", "d2", F.round(jac, 4).alias("jaccard"))
            .filter(F.col("jaccard") >= NGRAM_JACCARD_T))


SQL_DEDUP_NGRAM_JACCARD = f"""
WITH sh AS (
  SELECT doc_id, source, lang,
         CASE WHEN len(string_split(text,' ')) >= 3
              THEN list_distinct(list_transform(
                     generate_series(1, len(string_split(text,' ')) - 2),
                     i -> string_split(text,' ')[i] || ' ' ||
                          string_split(text,' ')[i+1] || ' ' ||
                          string_split(text,' ')[i+2]))
              ELSE [] END AS shingles
  FROM documents
),
nonempty AS (SELECT * FROM sh WHERE len(shingles) > 0),
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2,
         len(list_intersect(a.shingles, b.shingles)) AS inter,
         len(a.shingles) + len(b.shingles)
           - len(list_intersect(a.shingles, b.shingles)) AS un
  FROM nonempty a JOIN nonempty b USING (source, lang)
  WHERE a.doc_id < b.doc_id
)
SELECT d1, d2, round(CAST(inter AS DOUBLE) / CAST(un AS DOUBLE), 4) AS jaccard
FROM pairs
WHERE round(CAST(inter AS DOUBLE) / CAST(un AS DOUBLE), 4) >= {NGRAM_JACCARD_T}
"""


# -- prefix-filtered set-similarity join (PPJoin-style) -------------------------------
#
# The exact-Jaccard pair join above bounds fan-out with a stoplist (lossy
# at the cap).  Prefix filtering (Chaudhuri et al. SSJoin / Xiao et al.
# PPJoin) is the LOSSLESS pruning: order every shingle set by global
# rarity, and two sets with Jaccard >= t must share a token within their
# first |x| - ceil(t*|x|) + 1 tokens — so only that short prefix is
# indexed.  The oracle here is deliberately the BRUTE all-pairs join:
# the correctness gate itself proves the pruning loses no pair.

PREFIX_JACCARD_T_PPM = 300_000  # t = 0.3


def q_dedup_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide (no group restriction) shingle-Jaccard pairs >= t via
    prefix filtering.

    Scale shape: shingle document-frequency is one mergeable groupBy; the
    rarity order joins back equi on shingle (vocab-sized — NEVER
    broadcast, module rule); per-doc sort is array_sort over the doc's
    own shingle structs (map-side, document-bounded).  Only the
    (1-t)·|x|+1 prefix is exploded into the index, and rare-first
    ordering makes those posting lists the SHORTEST in the corpus — the
    boilerplate mega-shingle lands in a prefix only for docs where
    nothing rarer exists.  Candidates pass the size-compatibility filter
    (t·|A| <= |B| <= |A|/t) inside the join condition; verification is
    candidate-bounded (cand ⋈ postings on d1, then equi on (d2, s)) —
    intersection counts are computed ONLY for surviving pairs, never all
    pairs.  jacc_ppm = inter*1e6 div union: integer end-to-end."""
    d = _docs(spark, sf_dir)
    sh = _pin(d.select("doc_id", _shingles_col().alias("shingles"))
              .filter(F.size("shingles") > 0))
    post = sh.select("doc_id",
                     F.size("shingles").cast("bigint").alias("n"),
                     F.explode("shingles").alias("s"))
    dfreq = post.groupBy("s").agg(F.count(F.lit(1)).alias("df_s"))
    t = F.lit(PREFIX_JACCARD_T_PPM).cast("bigint")
    # prefix length p = n - ceil(t*n) + 1, in exact integer math
    p = (F.col("n")
         - ((t * F.col("n") + F.lit(999_999)) / F.lit(1_000_000))
         .cast("bigint") + F.lit(1))
    ordered = (post.join(dfreq, "s")  # equi on shingle, vocab never broadcast
               .groupBy("doc_id", "n")
               .agg(F.array_sort(F.collect_list(
                   F.struct(F.col("df_s"), F.col("s")))).alias("by_rarity")))
    # r6: the prefix index feeds BOTH sides of the candidate self-join —
    # unpinned, the dfreq shuffle + rarity sort + slice ran once per side.
    prefix = _pin(ordered
                  .select("doc_id", "n",
                          F.explode(F.slice("by_rarity", 1, p)).alias("tok"))
                  .select("doc_id", "n", F.col("tok.s").alias("s")))
    a = prefix.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1"),
                      "s")
    b = prefix.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2"),
                      "s")
    million = F.lit(1_000_000).cast("bigint")
    cand = (a.join(b, (a.s == b.s) & (F.col("d1") < F.col("d2"))
                   & (F.col("n2") * million >= t * F.col("n1"))
                   & (F.col("n1") * million >= t * F.col("n2")))
            .select("d1", "d2").distinct())
    p1 = post.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1"),
                     "s")
    p2 = post.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2"),
                     "s")
    inter = (cand.join(p1, "d1")          # candidate-bounded fan-out
             .join(p2, ["d2", "s"])
             .groupBy("d1", "d2", "n1", "n2")
             .agg(F.count(F.lit(1)).alias("inter")))
    uni = F.col("n1") + F.col("n2") - F.col("inter")
    return (inter
            .select("d1", "d2", F.col("inter").cast("bigint").alias("inter"),
                    uni.cast("bigint").alias("uni"),
                    F.expr("inter * 1000000 div (n1 + n2 - inter)")
                    .cast("bigint").alias("jacc_ppm"))
            .filter(F.col("jacc_ppm") >= PREFIX_JACCARD_T_PPM))


SQL_DEDUP_PREFIX_JACCARD = f"""
WITH sh AS (
  SELECT doc_id,
         CASE WHEN len(string_split(text,' ')) >= 3
              THEN list_distinct(list_transform(
                     generate_series(1, len(string_split(text,' ')) - 2),
                     i -> string_split(text,' ')[i] || ' ' ||
                          string_split(text,' ')[i+1] || ' ' ||
                          string_split(text,' ')[i+2]))
              ELSE [] END AS w
  FROM documents
), ne AS (SELECT * FROM sh WHERE len(w) > 0),
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2,
         len(list_intersect(a.w, b.w)) AS inter,
         len(a.w) + len(b.w) - len(list_intersect(a.w, b.w)) AS un
  FROM ne a JOIN ne b ON a.doc_id < b.doc_id
)
SELECT d1, d2, CAST(inter AS BIGINT) AS inter, CAST(un AS BIGINT) AS uni,
       CAST((inter * 1000000) // un AS BIGINT) AS jacc_ppm
FROM pairs
WHERE (inter * 1000000) // un >= {PREFIX_JACCARD_T_PPM}
"""


# -- SimHash --------------------------------------------------------------------------

def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash: per distinct word, a 16-bit hash from the first 4 hex
    digits of md5(word); per bit, majority vote across words; signature =
    sum of winning bits.

    All 16 bit-votes are conditional SUM aggregates in ONE groupBy(doc_id)
    over the word rows (whole-stage-codegen hash agg, map-side partial agg
    collapses each partition to one 16-counter row per document).  The
    earlier words × 16-bit-positions double explode shuffled 16× the rows
    through a (doc_id, bit) aggregation for the same result."""
    d = _docs(spark, sf_dir)
    words = (d.select("doc_id",
                      F.explode(F.array_distinct(F.split("text", " ", -1)))
                      .alias("w")))
    hexpos = lambda k: (F.instr(F.lit("0123456789abcdef"),  # noqa: E731
                                F.substring(F.md5("w"), k + 1, 1)) - 1)
    h16 = (hexpos(0) * 4096 + hexpos(1) * 256 + hexpos(2) * 16 + hexpos(3))
    votes = (words.select("doc_id", h16.alias("h"))
             .groupBy("doc_id")
             .agg(*[F.sum(F.when(F.expr(f"(h >> {b}) & 1") == 1, 1)
                          .otherwise(-1)).alias(f"v{b}")
                    for b in range(SIMHASH_BITS)]))
    sim = F.lit(0).cast("bigint")
    for b in range(SIMHASH_BITS):
        sim = sim + F.when(F.col(f"v{b}") > 0,
                           F.lit(1 << b).cast("bigint")).otherwise(0)
    return votes.select("doc_id", sim.alias("simhash"))


SQL_DEDUP_SIMHASH = f"""
WITH words AS (
  SELECT DISTINCT doc_id, unnest(list_distinct(string_split(text,' '))) AS w
  FROM documents
),
h AS (
  SELECT doc_id,
         (strpos('0123456789abcdef', substr(md5(w),1,1)) - 1) * 4096
       + (strpos('0123456789abcdef', substr(md5(w),2,1)) - 1) * 256
       + (strpos('0123456789abcdef', substr(md5(w),3,1)) - 1) * 16
       + (strpos('0123456789abcdef', substr(md5(w),4,1)) - 1) AS hv
  FROM words
),
bits AS (
  SELECT doc_id, hv, unnest(generate_series(0, {SIMHASH_BITS - 1})) AS b FROM h
),
votes AS (
  SELECT doc_id, b,
         sum(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
  FROM bits GROUP BY doc_id, b
)
SELECT doc_id,
       CAST(sum(CASE WHEN vote > 0 THEN 1::BIGINT << b ELSE 0 END) AS BIGINT) AS simhash
FROM votes GROUP BY doc_id
"""


N_SIMHASH_CHUNKS = SIMHASH_HAMMING_T + 1  # pigeonhole: ≤T flips → ≥1 equal chunk


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ T via the pigeonhole
    bucket join (NOT all-pairs): the 16-bit signature splits into
    T+1 = {N_SIMHASH_CHUNKS} chunks; any pair within Hamming ≤ T must agree
    on at least one chunk, so candidates come from an equi-join on
    (chunk_idx, chunk_value) — a shuffle hash join whose fan-out is bounded
    by chunk-bucket size, never O(N²).  Exact bit_count(xor) verifies, and
    distinct collapses pairs that agree on several chunks."""
    sig = _pin(q_dedup_simhash(spark, sf_dir))
    bits_per = SIMHASH_BITS // N_SIMHASH_CHUNKS  # 16//3 = 5; last chunk gets the rest
    chunked = sig.select(
        "doc_id", "simhash",
        F.explode(F.array(*[
            F.struct(
                F.lit(c).alias("chunk_idx"),
                F.shiftright("simhash", c * bits_per).bitwiseAND(
                    F.lit((1 << (bits_per if c < N_SIMHASH_CHUNKS - 1
                                 else SIMHASH_BITS - bits_per * (N_SIMHASH_CHUNKS - 1))) - 1)
                ).alias("chunk_val"))
            for c in range(N_SIMHASH_CHUNKS)])).alias("ch")
    ).select("doc_id", "simhash", "ch.chunk_idx", "ch.chunk_val")
    a, b = chunked.alias("a"), chunked.alias("b")
    ham = F.expr("bit_count(a.simhash ^ b.simhash)")
    return (a.join(b, ["chunk_idx", "chunk_val"])
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("d1"),
                    F.col("b.doc_id").alias("d2"),
                    ham.cast("bigint").alias("hamming"))
            .filter(F.col("hamming") <= SIMHASH_HAMMING_T)
            .distinct())


def _sql_simhash_chunks() -> str:
    bits_per = SIMHASH_BITS // N_SIMHASH_CHUNKS
    parts = []
    for c in range(N_SIMHASH_CHUNKS):
        width = (bits_per if c < N_SIMHASH_CHUNKS - 1
                 else SIMHASH_BITS - bits_per * (N_SIMHASH_CHUNKS - 1))
        parts.append(
            f"SELECT doc_id, simhash, {c} AS chunk_idx, "
            f"(simhash >> {c * bits_per}) & {(1 << width) - 1} AS chunk_val FROM sig")
    return " UNION ALL ".join(parts)


SQL_DEDUP_SIMHASH_PAIRS = f"""
WITH sig AS ({SQL_DEDUP_SIMHASH}),
chunked AS ({_sql_simhash_chunks()})
SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM chunked a JOIN chunked b USING (chunk_idx, chunk_val)
WHERE a.doc_id < b.doc_id
  AND bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_HAMMING_T}
"""


# -- embedding-cosine near-dup -----------------------------------------------------

def _dbl(col):
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def _norm(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))


# Single-parse SQL-string twins of the helpers above (r6 build-cost note
# near _CAT_SHINGLES): same analyzed expression tree — per-element cast,
# zip_with product, 0.0D-seeded left fold — one py4j call instead of
# dozens per use.  The Column-based forms stay for call sites inside
# lambdas (IVF centroid scans), where the argument is a lambda variable.
_CAT_DOT = ("aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, "
            "(acc, x) -> acc + x)")
_CAT_NORM = ("sqrt(aggregate(transform({a}, x -> x * x), 0.0D, "
             "(acc, x) -> acc + x))")
_CAT_V = "transform(embedding, x -> CAST(x AS DOUBLE)) AS v"


def _cat_cos(a: str, b: str, na: str, nb: str):
    """cosine(a, b) with pre-materialized norms, as one parsed expression."""
    return F.expr(f"{_CAT_DOT.format(a=a, b=b)} / ({na} * {nb})")


def _emb_vn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings scan → (vec_id, v: array<double>, nrm) in two parsed
    selects (the optimizer collapses them; nrm folds over the same `v`
    subtree as before)."""
    return (read_table(spark, sf_dir, "embeddings")
            .selectExpr("vec_id", _CAT_V)
            .selectExpr("vec_id", "v", _CAT_NORM.format(a="v") + " AS nrm"))


_SQL_DOT = ("list_reduce(list_transform(generate_series(1, len({a})), "
            "i -> {a}[i] * {b}[i]), (x, y) -> x + y)")
_SQL_NORM = ("sqrt(list_reduce(list_transform({a}, v -> v * v), "
             "(x, y) -> x + y))")


COSINE_BLOCKS = 8


def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT all-pairs cosine as a block-pair EQUI-join (no cartesian / no
    BroadcastNestedLoopJoin).  Every vector gets a hash block g in [0,B);
    the unordered pair {v,w} is owned by the block-pair key
    (min(g_v,g_w), max(g_v,g_w)): the lower-block member fans out to keys
    (g, g..B-1), the higher-block member to keys (0..g, g).  The shuffle
    is N*(B+1) rows into B*(B+1)/2 co-located block-pair tasks of
    ~(N/B)^2 comparisons — the standard way to distribute an exact
    similarity self-join; B scales with cluster size.  O(N^2) total work
    remains by definition (this is the exact baseline; the LSH/IVF
    variants are the approximate scale path).  Norms are materialized
    once per vector before the join, not recomputed per pair; cosine is
    orientation-independent bit-for-bit (IEEE multiply is commutative),
    so emitting least/greatest vec_id preserves oracle parity."""
    B = COSINE_BLOCKS
    e = _pin(_emb_vn(spark, sf_dir)
             .withColumn("g", F.pmod(F.xxhash64("vec_id"), F.lit(B)).cast("int")))
    lo = (e.withColumn("gb", F.explode(F.sequence(F.col("g"), F.lit(B - 1))))
          .select(F.col("g").alias("ga"), "gb",
                  F.col("vec_id").alias("id_a"), F.col("v").alias("v_a"),
                  F.col("nrm").alias("nrm_a")))
    hi = (e.withColumn("ga", F.explode(F.sequence(F.lit(0), F.col("g"))))
          .select("ga", F.col("g").alias("gb"),
                  F.col("vec_id").alias("id_b"), F.col("v").alias("v_b"),
                  F.col("nrm").alias("nrm_b")))
    cos = _cat_cos("v_a", "v_b", "nrm_a", "nrm_b")
    pairs = (lo.join(hi, ["ga", "gb"])
             .filter((F.col("ga") != F.col("gb"))
                     | (F.col("id_a") < F.col("id_b")))
             .select(F.least("id_a", "id_b").alias("v1"),
                     F.greatest("id_a", "id_b").alias("v2"),
                     cos.alias("cos")))
    return (pairs.filter(F.col("cos") >= COSINE_T)
            .select("v1", "v2", F.round("cos", 6).alias("cosine")))


SQL_DEDUP_EMBEDDING_COSINE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                  {_SQL_NORM.format(a="(embedding::DOUBLE[])")} AS nrm
           FROM embeddings),
pairs AS (
  SELECT a.vec_id AS v1, b.vec_id AS v2,
         {_SQL_DOT.format(a="a.v", b="b.v")} / (a.nrm * b.nrm) AS cos
  FROM e a JOIN e b ON a.vec_id < b.vec_id
)
SELECT v1, v2, round(cos, 6) AS cosine
FROM pairs WHERE cos >= {COSINE_T}
"""


# Multi-table random-hyperplane LSH: N_TABLES independent tables of
# N_PLANES planes each.  A pair at angle θ collides in one table with
# p = (1-θ/π)^P and overall with 1-(1-p)^T: per-table bucket population
# shrinks geometrically with plane count (2^P buckets/table) while recall
# is recovered by the extra tables.  At 10^12 vectors a production near-dup
# run (cos >= 0.9, θ <= 26°: p-per-table stays high) raises N_PLANES to
# ~28-32 (10^8-10^9 buckets/table); the demo threshold here is a much
# harder cos >= 0.4, hence few planes + more tables.  Both are literals
# shared with the oracle, so the scheme stays exactly mirrored at any
# setting.
N_PLANES = 5            # 32 buckets per table
N_TABLES = 6


def _cat_bucket(v: str, t: int) -> str:
    """Deterministic random-hyperplane signature for table t as a SQL
    string (r6 build-cost note): plane j has components
    h_j[i] = ((i*31 + j*17 + t*53) % 7) - 3; bucket bit j = sign of
    <v, h_j>.  Same zip_with-against-sequence(0,63) tree and 0.0D-seeded
    left fold as the previous Column form — results bit-identical."""
    bits = []
    for j in range(N_PLANES):
        proj = (f"aggregate(zip_with({v}, sequence(0, 63), (x, i) -> "
                f"x * CAST(((i * 31 + {j * 17 + t * 53}) % 7) - 3 AS DOUBLE)), "
                f"0.0D, (acc, x) -> acc + x)")
        bits.append(f"(CASE WHEN {proj} > 0 THEN {1 << j} ELSE 0 END)")
    return " + ".join(bits)


def _bucket_expr(v, t: int):
    """Column form of _cat_bucket.  `v` is the vector column NAME (or a
    plain Column over one, kept for the legacy call shape)."""
    name = v if isinstance(v, str) else "v"
    return F.expr(_cat_bucket(name, t))


def _sql_bucket(v: str, t: int) -> str:
    terms = []
    for j in range(N_PLANES):
        proj = (f"list_reduce(list_transform(generate_series(1, 64), "
                f"i -> {v}[i] * ((((i-1)*31 + {j}*17 + {t}*53) % 7) - 3)), "
                f"(x,y) -> x+y)")
        terms.append(f"CASE WHEN {proj} > 0 THEN {1 << j} ELSE 0 END")
    return " + ".join(terms)


def q_dedup_embedding_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path for embedding near-dup: multi-table random-hyperplane LSH
    bucket prefilter, exact cosine only within buckets.  At 10^12 rows the
    all-pairs variant is infeasible; each vector lands in one bucket per
    table, the self-equi-join on (table, bucket) bounds candidates, AQE
    splits hot buckets, and a pair colliding in several tables is deduped
    by the final distinct (identical doubles -> identical rounded rows)."""
    e = _pin(_emb_vn(spark, sf_dir))
    tb = ", ".join(
        f"named_struct('t', {t}, 'bucket', {_cat_bucket('v', t)})"
        for t in range(N_TABLES))
    sig = (e.select("vec_id", "v", "nrm",
                    F.expr(f"explode(array({tb}))").alias("tb"))
           .select("vec_id", "v", "nrm", F.col("tb.t").alias("t"),
                   F.col("tb.bucket").alias("bucket")))
    a, b = sig.alias("a"), sig.alias("b")
    cos = _cat_cos("a.v", "b.v", "a.nrm", "b.nrm")
    pairs = (a.join(b, ["t", "bucket"])
             .filter(F.col("a.vec_id") < F.col("b.vec_id"))
             .select(F.col("a.vec_id").alias("v1"),
                     F.col("b.vec_id").alias("v2"), cos.alias("cos")))
    return (pairs.filter(F.col("cos") >= COSINE_T)
            .select("v1", "v2", F.round("cos", 6).alias("cosine"))
            .distinct())


def _sql_embedding_lsh() -> str:
    per_table = "\nUNION ALL\n".join(
        f"SELECT vec_id, v, nrm, {t} AS t, {_sql_bucket('v', t)} AS bucket FROM e"
        for t in range(N_TABLES))
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                  {_SQL_NORM.format(a="(embedding::DOUBLE[])")} AS nrm
           FROM embeddings),
sig AS ({per_table}),
pairs AS (
  SELECT a.vec_id AS v1, b.vec_id AS v2,
         {_SQL_DOT.format(a="a.v", b="b.v")} / (a.nrm * b.nrm) AS cos
  FROM sig a JOIN sig b USING (t, bucket) WHERE a.vec_id < b.vec_id
)
SELECT DISTINCT v1, v2, round(cos, 6) AS cosine
FROM pairs WHERE cos >= {COSINE_T}
"""


# -- near-dup cluster resolution: connected components over the pair graph --

CC_MAX_ITERS = 25


def connected_components(pairs: DataFrame, max_iters: int = CC_MAX_ITERS,
                         algo: str = "propagate",
                         metrics: dict | None = None) -> DataFrame:
    """Connected components over an undirected pair graph
    (columns d1, d2) → labels (node, label = component-min node id).

    Two interchangeable dataflows, selected by `algo`:

    * ``propagate`` (default) — min-label propagation: each round is one
      equi-join (edges ⋈ labels, shuffle on the node key) + a min
      aggregation with map-side partial agg.  Converges in O(diameter)
      rounds — the right default for near-dup graphs, whose diameters
      are short in practice (similarity is near-transitive).
    * ``star`` — the alternating large-star/small-star contraction
      (Kiveris et al., "Connected Components in MapReduce and Beyond",
      SoCC'14): each round rewires every node toward its neighborhood
      minimum, halving component height, so convergence is O(log n)
      rounds regardless of diameter.  The opt-in path for adversarial
      graphs (a 10^5-long chain would need 10^5 propagation rounds but
      ~17 star rounds).  Each star step is a groupBy + join on the node
      key — same shuffle shape as propagation, just a different rewiring
      rule.

    Per-round lineage is truncated (localCheckpoint pin) so the physical
    plan does not grow with iterations — at 10^12-doc scale each round's
    table would be a reliable checkpoint (`spark.document_processor.pin`).

    `metrics`, when given, is filled in place with the loop telemetry the
    no-silent-truncation rule requires: algo, max_iters, per-round
    changed-row counts, round count, and whether the loop converged
    before the cap (a non-converged run is also logged at WARNING).
    Driver-side logic is only the convergence test (one count per round);
    labels never leave the cluster."""
    rounds: list[int] = []
    converged = False
    if algo == "propagate":
        edges = _pin(pairs.union(
            pairs.select(F.col("d2").alias("d1"), F.col("d1").alias("d2"))))
        labels = _pin(edges.select(F.col("d1").alias("node")).distinct()
                      .select("node", F.col("node").alias("label")))
        for _ in range(max_iters):
            prop = (edges.join(labels, edges["d1"] == labels["node"])
                    .select(F.col("d2").alias("node"), "label"))
            new_labels = _pin(labels.select("node", "label").union(prop)
                              .groupBy("node")
                              .agg(F.min("label").alias("label")))
            changed = (new_labels.alias("n")
                       .join(labels.alias("o"), "node")
                       .filter(F.col("n.label") != F.col("o.label")).count())
            rounds.append(changed)
            labels = new_labels
            if changed == 0:
                converged = True
                break
    elif algo == "star":
        # state: a deduped directed edge list; at convergence it is a
        # union of stars, every node pointing at its component minimum
        edges = _pin(pairs.select(F.col("d1").alias("u"),
                                  F.col("d2").alias("v"))
                     .filter(F.col("u") != F.col("v")).distinct())
        for _ in range(max_iters):
            sym = edges.union(edges.select(F.col("v").alias("u"),
                                           F.col("u").alias("v")))
            # large-star: every node u links its LARGER neighbors to
            # m(u) = min(Γ(u) ∪ {u})
            lmin = (sym.groupBy("u")
                    .agg(F.least(F.min("v"), F.first("u")).alias("m")))
            large = (sym.join(lmin, "u")
                     .filter(F.col("v") > F.col("u"))
                     .filter(F.col("v") != F.col("m"))
                     .select(F.col("v").alias("u"), F.col("m").alias("v"))
                     .distinct())
            # small-star: orient (big, small), link every small neighbor
            # AND big itself to the minimum of the small neighborhood
            oriented = (large.select(F.greatest("u", "v").alias("b"),
                                     F.least("u", "v").alias("s")))
            smin = oriented.groupBy("b").agg(F.min("s").alias("m"))
            small = _pin(
                oriented.join(smin, "b")
                .select(F.col("s").alias("u"), F.col("m").alias("v"))
                .union(smin.select(F.col("b").alias("u"),
                                   F.col("m").alias("v")))
                .filter(F.col("u") != F.col("v")).distinct())
            changed = (small.subtract(edges)
                       .union(edges.subtract(small)).count())
            rounds.append(changed)
            edges = small
            if changed == 0:
                converged = True
                break
        labels = (edges.select(F.col("u").alias("node"),
                               F.col("v").alias("label"))
                  .union(edges.select(F.col("v").alias("node"),
                                      F.col("v").alias("label")))
                  .groupBy("node").agg(F.min("label").alias("label")))
    else:
        raise ValueError(f"unknown connected-components algo: {algo!r}")
    if not converged:
        logging.getLogger(__name__).warning(
            "connected_components(%s) hit max_iters=%d without converging "
            "(last round changed %d rows) — labels may be partial",
            algo, max_iters, rounds[-1] if rounds else -1)
    if metrics is not None:
        metrics.update(algo=algo, max_iters=max_iters,
                       changed_per_round=rounds, n_rounds=len(rounds),
                       converged=converged)
    return labels


def q_dedup_components(spark: SparkSession, sf_dir: str,
                       algo: str = "propagate",
                       metrics: dict | None = None) -> DataFrame:
    """Cluster resolution — the step a real dedup pipeline runs AFTER pair
    generation: connected components over the verified MinHash pair graph,
    assigning every document a canonical cluster representative (the
    component-min doc_id) and the cluster size.

    Label resolution delegates to :func:`connected_components` — min-label
    propagation by default (O(diameter) rounds; near-dup clusters have
    short diameters in practice because similarity is near-transitive),
    with the O(log n) large-star/small-star contraction as the opt-in
    ``algo="star"`` path for adversarial diameters.  `metrics`, when
    given, receives the loop telemetry (rounds, changed-per-round,
    converged).

    Non-dup documents are their own singleton cluster (left anti to the
    edge set avoids shuffling the whole corpus through the loop: only
    documents that appear in a pair — a small fraction — iterate)."""
    pairs = q_dedup_minhash_lsh(spark, sf_dir).select("d1", "d2")
    labels = connected_components(pairs, algo=algo, metrics=metrics)
    docs = _docs(spark, sf_dir).select("doc_id")
    assigned = (docs.join(labels, docs["doc_id"] == labels["node"], "left")
                .select("doc_id",
                        F.coalesce("label", "doc_id").alias("cluster_id")))
    # cluster size via groupBy+join, NOT a partitionBy-window count: a
    # window materializes an entire cluster in one task, so one mega
    # boilerplate cluster (millions of members — the common case in web
    # dedup) pins a straggler; groupBy gets map-side partial aggregation
    sizes = assigned.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"))
    return (assigned.join(sizes, "cluster_id")
            .select("doc_id", "cluster_id", "n_members"))


SQL_DEDUP_COMPONENTS = f"""
WITH RECURSIVE pairs AS ({SQL_DEDUP_MINHASH_LSH}),
edges AS (
  SELECT d1 AS a, d2 AS b FROM pairs
  UNION
  SELECT d2 AS a, d1 AS b FROM pairs),
reach AS (
  SELECT a AS node, a AS r FROM edges
  UNION
  SELECT e.b AS node, reach.r AS r
  FROM reach JOIN edges e ON e.a = reach.node),
clusters AS (
  SELECT node, min(r) AS cluster_id FROM reach GROUP BY node),
assigned AS (
  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN clusters c ON c.node = d.doc_id)
SELECT doc_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS n_members
FROM assigned
"""


# -- SemDeDup-style semantic dedup: centroid cells + within-cell prune ------

SEM_CENT_MOD = 31   # vec_id % 31 == 0 → deterministic coarse centroid
SEM_T = 0.4         # within-cell cosine above which the later doc is pruned


def _desc_then_id(score_field: str):
    """array_sort comparator ≡ ORDER BY score DESC NULLS LAST, cent_id —
    the exact window ordering the narrow cell-assignment argmin replaced.
    The NULL branches matter for totality: a zero-norm vector makes the
    cosine NULL (x/0 -> NULL), and without them both l>r and l<r are
    false, making NULL tie with every real score and breaking the sort's
    transitivity."""
    def cmp(l, r):
        ls, rs = l[score_field], r[score_field]
        return (F.when(ls.isNull() & rs.isNotNull(), F.lit(1))
                .when(ls.isNotNull() & rs.isNull(), F.lit(-1))
                .when(ls > rs, F.lit(-1))
                .when(ls < rs, F.lit(1))
                .when(l["cent_id"] < r["cent_id"], F.lit(-1))
                .when(l["cent_id"] > r["cent_id"], F.lit(1))
                .otherwise(F.lit(0)))
    return cmp


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) as a dataflow: embeddings are
    clustered to coarse centroid cells, and WITHIN each cell any vector
    with an earlier (lower vec_id) neighbor at cosine >= SEM_T is pruned,
    keeping one representative per semantic near-dup group.  The pair
    search never leaves a cell — at 10^12 rows the per-cell pair join is
    bounded by cell size (k grows with sqrt(N) to keep cells constant),
    exactly the IVF partitioning ann.py uses; centroids are broadcast as
    a one-row sorted array and cell assignment is a narrow per-row
    argmax (no N×K explode, no window shuffle) — the only corpus
    shuffle is the cell-key equi-join.  Centroids
    here are a deterministic sample (vec_id % SEM_CENT_MOD == 0); at real
    scale a KMeans sketch supplies them — same dataflow.  Output is one
    row per vector: its cell, keep/prune decision, and the pruning
    neighbor (min qualifying lower vec_id) for auditability."""
    e = _pin(_emb_vn(spark, sf_dir))
    carr = (e.filter(F.col("vec_id") % SEM_CENT_MOD == 0)
            .select(F.col("vec_id").alias("cent_id"), F.col("v").alias("cv"),
                    F.col("nrm").alias("cnrm"))
            .groupBy()
            .agg(F.array_sort(F.collect_list(
                F.struct("cent_id", "cv", "cnrm"))).alias("carr")))
    scored = F.transform(
        "carr",
        lambda c: F.struct(
            (_dot(F.col("v"), c["cv"]) / (F.col("nrm") * c["cnrm"]))
            .alias("ccos"),
            c["cent_id"].alias("cent_id")))
    # narrow per-row argmax (comparator ≡ the former ORDER BY ccos DESC,
    # cent_id window) over the one-row broadcast centroid array — zero
    # shuffle to assign cells; explode pins one evaluation of the folds
    near = F.slice(F.array_sort(scored, _desc_then_id("ccos")), 1, 1)
    assigned = (e.crossJoin(F.broadcast(carr))
                .select("vec_id", "v", "nrm", F.explode(near).alias("nc"))
                .select("vec_id", "v", "nrm",
                        F.col("nc")["cent_id"].alias("cent_id")))
    a = assigned.select(F.col("vec_id").alias("va"), F.col("v").alias("v_a"),
                        F.col("nrm").alias("nrm_a"), "cent_id")
    b = assigned.select(F.col("vec_id").alias("vb"), F.col("v").alias("v_b"),
                        F.col("nrm").alias("nrm_b"), "cent_id")
    cos = _cat_cos("v_a", "v_b", "nrm_a", "nrm_b")
    dup = (a.join(b, "cent_id")
           .filter(F.col("va") < F.col("vb"))
           .filter(cos >= SEM_T)
           .groupBy(F.col("vb").alias("vec_id"))
           .agg(F.min("va").alias("dup_of")))
    return (assigned.join(dup, "vec_id", "left")
            .select("vec_id", "cent_id",
                    F.col("dup_of").isNull().alias("kept"),
                    "dup_of"))


SQL_DEDUP_SEMANTIC = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                  {_SQL_NORM.format(a="(embedding::DOUBLE[])")} AS nrm
           FROM embeddings),
cents AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM e
          WHERE vec_id % {SEM_CENT_MOD} = 0),
assigned AS (
  SELECT vec_id, v, nrm, cent_id FROM (
    SELECT e.vec_id, e.v, e.nrm, c.cent_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_SQL_DOT.format(a="e.v", b="c.cv")} / (e.nrm * c.cnrm) DESC,
                      c.cent_id) AS r
    FROM e CROSS JOIN cents c)
  WHERE r = 1
),
dup AS (
  SELECT b.vec_id AS vec_id, min(a.vec_id) AS dup_of
  FROM assigned a JOIN assigned b
    ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
  WHERE {_SQL_DOT.format(a="a.v", b="b.v")} / (a.nrm * b.nrm) >= {SEM_T}
  GROUP BY b.vec_id
)
SELECT s.vec_id, s.cent_id, d.dup_of IS NULL AS kept, d.dup_of
FROM assigned s LEFT JOIN dup d USING (vec_id)
"""


# -- sub-document chunk dedup (C4 / CCNet style) -----------------------------

CHUNK_WORDS = 4    # words per chunk (the C4 "three-sentence span" analog)
CHUNK_DUP_T = 2    # chunks occurring >= T times corpus-wide are removed


def q_dedup_subdoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document dedup: remove every fixed-width word chunk whose exact
    text occurs >= CHUNK_DUP_T times ANYWHERE in the corpus, then
    reconstruct each document from its surviving chunks in order — the
    C4 duplicated-span rule (Raffel et al. 2020 §2.2 drop repeated
    three-sentence spans) / CCNet paragraph-hash dedup, at chunk = 4
    words since the synthetic corpus has no sentence punctuation.

    Dataflow (scale shape): chunking is map-only (one split per doc,
    projected ONCE so the transform lambda touches an attribute, not a
    re-evaluated split); the corpus-wide count is one hash shuffle on the
    chunk text with map-side partial agg; the count join back is an
    equi-join on the same key, so the agg side reuses its partitioning
    and only the exploded side shuffles; reconstruction is one final
    shuffle on doc_id.  At 10^12 docs the count/join key becomes
    xxhash64(chunk) (8-byte shuffle rows instead of full text; collisions
    only ever remove an extra chunk) — kept as full text here so the
    DuckDB oracle is bit-exact.  Boilerplate chunks are precisely the
    hot keys, and they are also precisely the rows the filter drops;
    AQE's skew-join split handles the count-side hot partitions.

    Output: one row per input document — reconstructed clean_text (''
    when every chunk was removed: the row is kept so the drop is
    auditable, unlike a silent anti-join), total and surviving chunk
    counts."""
    d = (_docs(spark, sf_dir)
         .filter(F.col("text").isNotNull())
         .select("doc_id", F.split("text", " ", -1).alias("w")))
    n_chunks = F.ceil(F.size("w") / CHUNK_WORDS).cast("int")
    chunk_at = lambda i: F.concat_ws(
        " ", F.slice(F.col("w"), i * CHUNK_WORDS + 1, CHUNK_WORDS))
    chunks = (d.select(
        "doc_id",
        F.posexplode(F.transform(F.sequence(F.lit(0), n_chunks - 1),
                                 chunk_at)).alias("chunk_idx", "chunk")))
    counts = chunks.groupBy("chunk").agg(F.count(F.lit(1)).alias("cnt"))
    keep = F.col("cnt") < CHUNK_DUP_T
    kept_s = F.when(keep, F.struct("chunk_idx", "chunk"))
    return (chunks.join(counts, "chunk")
            .groupBy("doc_id")
            .agg(F.concat_ws(
                     " ",
                     F.transform(
                         F.array_sort(F.collect_list(kept_s),
                                      _cmp_idx()),
                         lambda x: x["chunk"])).alias("clean_text"),
                 F.count(F.lit(1)).alias("n_chunks"),
                 F.count(F.when(keep, 1)).alias("n_kept")))


def _cmp_idx():
    def cmp(a, b):
        return (F.when(a["chunk_idx"] < b["chunk_idx"], F.lit(-1))
                 .when(a["chunk_idx"] > b["chunk_idx"], F.lit(1))
                 .otherwise(F.lit(0)))
    return cmp


SQL_DEDUP_SUBDOC = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws
  FROM documents WHERE text IS NOT NULL
),
c AS (
  SELECT doc_id, i AS chunk_idx,
         array_to_string(ws[(i * {CHUNK_WORDS} + 1):(i * {CHUNK_WORDS} + {CHUNK_WORDS})],
                         ' ') AS chunk
  FROM w, unnest(generate_series(
            0, CAST(ceil(len(ws) / {CHUNK_WORDS}.0) AS INT) - 1)) AS t(i)
),
cnt AS (SELECT chunk, count(*) AS cnt FROM c GROUP BY chunk)
SELECT c.doc_id,
       coalesce(string_agg(CASE WHEN cnt < {CHUNK_DUP_T} THEN c.chunk END,
                           ' ' ORDER BY c.chunk_idx), '') AS clean_text,
       count(*) AS n_chunks,
       count(CASE WHEN cnt < {CHUNK_DUP_T} THEN 1 END) AS n_kept
FROM c JOIN cnt USING (chunk)
GROUP BY c.doc_id
"""


# -- incremental (snapshot-over-snapshot) dedup -------------------------------------
#
# The CommonCrawl-style ingest shape: every new crawl snapshot is deduped
# against the union of all PRIOR snapshots, not against itself — the
# historical side is a fingerprint STORE (content hashes + LSH band
# signatures), never the raw text.  At 10^12 historical docs the store is
# far too large to broadcast, so both probes are plain shuffle equi-joins
# on uniformly-distributed hash keys (md5 / minhash values — no skew by
# construction); with the store laid out as a bucketed table
# (io/bucketed.py) the historical side needs no shuffle at all, only the
# incoming batch (~1% of corpus) moves.

BATCH_MOD = 4  # doc_id % BATCH_MOD == BATCH_MOD-1 -> the incoming snapshot


def fingerprints(df: DataFrame) -> DataFrame:
    """(doc_id, content_hash, shingles) over any (doc_id, text) frame —
    the per-document fingerprint record the incremental store keeps."""
    return df.select("doc_id", F.md5("text").alias("content_hash"),
                     _shingles_col().alias("shingles"))


def band_sig_rows(fp: DataFrame) -> DataFrame:
    """(doc_id, band, mh) LSH band-signature rows from a fingerprint
    frame.  Narrow build (no shuffle) — see _band_sigs_col."""
    return (fp.filter(F.size("shingles") > 0)
            .withColumn("xs", _shingle_ints_col())
            .select("doc_id", F.explode(_band_sigs_col()).alias("bs"))
            .select("doc_id", F.col("bs.band").alias("band"),
                    F.col("bs.mh").alias("mh")))


def classify_against_store(batch_fp: DataFrame, batch_sig: DataFrame,
                           hist_hash: DataFrame,
                           hist_sig: DataFrame) -> DataFrame:
    """Classify batch fingerprints against a historical store:
    hist_hash = (content_hash), hist_sig = (band, mh).  Returns
    (doc_id, exact_dup, n_shared_bands, status)."""
    seen = hist_hash.select("content_hash").distinct() \
        .withColumn("seen", F.lit(True))
    shared = (batch_sig
              .join(hist_sig.select("band", "mh").distinct(),
                    ["band", "mh"], "leftsemi")
              .groupBy("doc_id")
              .agg(F.count_distinct("band").alias("n_shared_bands")))
    exact = F.coalesce(F.col("seen"), F.lit(False))
    n_shared = F.coalesce(F.col("n_shared_bands"), F.lit(0)).cast("bigint")
    status = (F.when(exact, F.lit("exact_dup"))
               .when(n_shared > 0, F.lit("near_dup"))
               .otherwise(F.lit("new")))
    return (batch_fp.select("doc_id", "content_hash")
            .join(seen, "content_hash", "left")
            .join(shared, "doc_id", "left")
            .select("doc_id", exact.alias("exact_dup"),
                    n_shared.alias("n_shared_bands"),
                    status.alias("status")))


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classify each incoming-batch document against the historical
    fingerprint store: `exact_dup` (content hash already ingested),
    `near_dup` (shares >= 1 MinHash LSH band bucket with history —
    the standard streaming-ingest LSH filter; its false-positive rate is
    the band-collision rate, tunable via N_BANDS x r), else `new`.
    n_shared_bands counts distinct colliding bands (an auditable
    confidence signal, not a silent boolean).  The live micro-batch
    version of the same classification is streaming/incremental_dedup.py."""
    d = _docs(spark, sf_dir)
    is_batch = F.col("doc_id") % BATCH_MOD == BATCH_MOD - 1
    hashed = fingerprints(d)
    sig = band_sig_rows(hashed)
    return classify_against_store(
        hashed.filter(is_batch), sig.filter(is_batch),
        hashed.filter(~is_batch).select("content_hash"),
        sig.filter(~is_batch).select("band", "mh"))


SQL_DEDUP_INCREMENTAL = f"""
WITH sh AS ({_SQL_SHINGLES}),
ne AS (
  SELECT doc_id, list_transform(shingles,
           s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % {MINHASH_P}) AS xs
  FROM sh WHERE len(shingles) > 0),
sig AS (
  SELECT doc_id, b.band AS band,
         CASE {' '.join(f'WHEN b.band = {b} THEN {_sql_band_sig(b)}' for b in range(N_BANDS))}
         END AS mh
  FROM ne, (SELECT unnest(generate_series(0, {N_BANDS - 1})) AS band) b
),
hist_hash AS (
  SELECT DISTINCT md5(text) AS content_hash FROM documents
  WHERE doc_id % {BATCH_MOD} <> {BATCH_MOD - 1}),
hist_sig AS (
  SELECT DISTINCT band, mh FROM sig
  WHERE doc_id % {BATCH_MOD} <> {BATCH_MOD - 1}),
shared AS (
  SELECT s.doc_id, count(DISTINCT s.band) AS n_shared_bands
  FROM sig s JOIN hist_sig h USING (band, mh)
  WHERE s.doc_id % {BATCH_MOD} = {BATCH_MOD - 1}
  GROUP BY s.doc_id),
batch AS (
  SELECT doc_id, md5(text) AS content_hash FROM documents
  WHERE doc_id % {BATCH_MOD} = {BATCH_MOD - 1})
SELECT b.doc_id,
       hh.content_hash IS NOT NULL AS exact_dup,
       CAST(coalesce(sd.n_shared_bands, 0) AS BIGINT) AS n_shared_bands,
       CASE WHEN hh.content_hash IS NOT NULL THEN 'exact_dup'
            WHEN coalesce(sd.n_shared_bands, 0) > 0 THEN 'near_dup'
            ELSE 'new' END AS status
FROM batch b
LEFT JOIN hist_hash hh USING (content_hash)
LEFT JOIN shared sd USING (doc_id)
"""


PR_ITERS = 3
PR_DAMP = 0.85


def q_dedup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the near-dup pair graph (PR_ITERS unrolled Lloyd-style
    rounds, damping 0.85) — graph centrality as a curation signal: a
    document's rank in the duplicate graph measures how canonical /
    boilerplate-central it is, the weighting web pipelines use to pick
    cluster representatives and to down-weight template farms.

    Scale shape per iteration: one equi-join (edges ⋈ ranks on the source
    node — the same shuffle key every round) + one groupBy(dest) whose
    per-node incoming sum is an exact-order VALUE-SORTED fold
    (collect_list → array_sort → aggregate), the repo's established trick
    for float sums an ANSI oracle can replay bit-exactly: equal doubles
    commute, so sorting by value makes the addition order deterministic
    on both engines.  Edges and degrees are pinned once
    (localCheckpoint) so the expensive LSH pair generation runs exactly
    once, not once per round.  Isolated documents converge to the
    damping floor 0.15 without ever entering the loop (left join at the
    end).  Ranks are integer-quantized (floor(rank*1e6) as BIGINT) —
    the float-output discipline."""
    pairs = q_dedup_minhash_lsh(spark, sf_dir).select("d1", "d2")
    edges = _pin(
        pairs.select(F.col("d1").alias("u"), F.col("d2").alias("v"))
        .union(pairs.select(F.col("d2").alias("u"), F.col("d1").alias("v")))
        .distinct())
    deg = edges.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    ewd = _pin(edges.join(deg, "u"))
    nodes = _pin(edges.select(F.col("u").alias("node")).distinct())
    r = nodes.select("node", F.lit(1.0).alias("rank"))
    for _ in range(PR_ITERS):
        x = (ewd.join(r, ewd["u"] == r["node"])
             .select(F.col("v").alias("node"),
                     (F.col("rank") / F.col("deg")).alias("x")))
        s = (x.groupBy("node")
             .agg(F.aggregate(F.array_sort(F.collect_list("x")),
                              F.lit(0.0), lambda a, b: a + b).alias("s")))
        r = nodes.join(s, "node", "left").select(
            "node",
            (F.lit(0.15) + F.lit(PR_DAMP)
             * F.coalesce("s", F.lit(0.0))).alias("rank"))
    docs = _docs(spark, sf_dir).select("doc_id")
    return (docs.join(r, docs["doc_id"] == r["node"], "left")
            .select("doc_id",
                    F.floor(F.coalesce("rank", F.lit(0.15)) * 1000000)
                    .cast("long").alias("rank_q")))


def _sql_pagerank() -> str:
    its = []
    prev = "r0"
    for k in range(1, PR_ITERS + 1):
        its.append(f"""
x{k} AS (
  SELECT e.v AS node, r.rank / d.deg AS x
  FROM edges e JOIN {prev} r ON e.u = r.node JOIN deg d ON e.u = d.u),
s{k} AS (
  SELECT node,
         list_reduce(list_prepend(0.0, list(x ORDER BY x)),
                     (a, b) -> a + b) AS s
  FROM x{k} GROUP BY node),
r{k} AS (
  SELECT n.node, 0.15 + {PR_DAMP} * coalesce(s.s, 0.0) AS rank
  FROM nodes n LEFT JOIN s{k} s USING (node))""")
    return f"""
WITH pairs AS ({SQL_DEDUP_MINHASH_LSH}),
edges AS (
  SELECT d1 AS u, d2 AS v FROM pairs
  UNION
  SELECT d2 AS u, d1 AS v FROM pairs),
deg AS (SELECT u, count(*) AS deg FROM edges GROUP BY u),
nodes AS (SELECT DISTINCT u AS node FROM edges),
r0 AS (SELECT node, 1.0 AS rank FROM nodes),{",".join(its)}
SELECT d.doc_id,
       CAST(floor(coalesce(r.rank, 0.15) * 1000000) AS BIGINT) AS rank_q
FROM documents d LEFT JOIN r{PR_ITERS} r ON r.node = d.doc_id
"""


def q_dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster resolution through the O(log n) large-star/small-star
    contraction (the adversarial-diameter path of
    :func:`connected_components`).  Same labels as the propagation
    default — the oracle IS the shared SQL — so the driver row proves the
    two dataflows agree on the real pair graph, not just on the pytest
    fixture."""
    return q_dedup_components(spark, sf_dir, algo="star")


# -- exact-substring dedup (ExactSubstr, Lee et al. 2022) ---------------------------
#
# "Deduplicating Training Data Makes Language Models Better" removes every
# duplicated >=50-token substring from the corpus, keeping one occurrence.
# Their single-node tool builds a suffix array over the CONCATENATED corpus
# — a global sort that does not distribute.  Re-expressed relationally, the
# fixed-width sliding-window table IS the suffix set truncated at W words:
# a window duplicated anywhere in the corpus marks every position it covers
# for removal, except at the single winning (first) occurrence.

EXSUB_W = 8  # window width in words (the paper's 50 tokens, scaled to the
             # ~50-word fixture docs so the operator has signal to verify)


def q_dedup_exact_substr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr dedup: cut every word position covered by a corpus-wide
    duplicated W-word window, keeping the first occurrence (lexicographic
    min of the zero-padded (doc_id, start) key), then reconstruct each
    document from its surviving words in order.

    Dataflow (scale shape): window generation is map-only (one explode per
    doc, W-word slices of the already-split array); the count+winner pass
    is ONE hash shuffle on the window text with map-side partial agg (count
    and min are both mergeable) — at 10^12 docs the shuffle key becomes
    xxhash64(wtext) so shuffle rows are 8 bytes, with the same
    collision-only-over-removes tradeoff dedup_subdoc documents; the join
    back reuses the agg side's partitioning, so only the window side moves;
    covered starts collapse to ONE per-doc array (groupBy doc_id), and the
    final coverage test runs map-side inside a higher-order filter over the
    word array — O(|covered| x n_words) per doc, bounded by document
    length, never corpus size.  Boilerplate runs are precisely the hot
    window keys AND precisely the rows removed; AQE's skew split handles
    the count-side hot partitions, as in dedup_subdoc.

    vs dedup_subdoc (the C4 fixed-boundary chunk rule): ExactSubstr windows
    slide at EVERY word position, so a duplicated run is removed wherever
    it starts, not only when it aligns to a chunk boundary — the paper's
    key advantage, bought with W x the window rows (still linear).

    Output: one row per document — clean_text ('' when fully covered, row
    kept so the cut is auditable), n_words, n_removed."""
    d = (_docs(spark, sf_dir)
         .filter(F.col("text").isNotNull())
         .select("doc_id", F.split("text", " ", -1).alias("ws")))
    win = (d.filter(F.size("ws") >= EXSUB_W)
           .select("doc_id",
                   F.explode(F.sequence(
                       F.lit(0), F.size("ws") - EXSUB_W)).alias("s"),
                   "ws")
           .select("doc_id", "s",
                   F.concat_ws(" ", F.expr(
                       f"slice(ws, s + 1, {EXSUB_W})")).alias("wtext"),
                   F.concat(F.lpad(F.col("doc_id").cast("string"), 12, "0"),
                            F.lit(":"),
                            F.lpad(F.col("s").cast("string"), 6, "0"))
                   .alias("wkey")))
    cnt = win.groupBy("wtext").agg(F.count(F.lit(1)).alias("cnt"),
                                   F.min("wkey").alias("winner"))
    cov = (win.join(cnt, "wtext")
           .filter((F.col("cnt") > 1) & (F.col("wkey") != F.col("winner")))
           .groupBy("doc_id")
           .agg(F.collect_set("s").alias("covered")))
    covered = F.coalesce(F.col("covered"), F.array().cast("array<int>"))
    kept = F.filter(
        "ws",
        lambda w, i: ~F.exists(
            covered, lambda s: (s >= i - F.lit(EXSUB_W - 1)) & (s <= i)))
    return (d.join(cov, "doc_id", "left")
            .select("doc_id",
                    F.concat_ws(" ", kept).alias("clean_text"),
                    F.size("ws").cast("bigint").alias("n_words"),
                    (F.size("ws") - F.size(kept)).cast("bigint")
                    .alias("n_removed")))


SQL_DEDUP_EXACT_SUBSTR = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws
  FROM documents WHERE text IS NOT NULL
),
win AS (
  SELECT doc_id, s,
         array_to_string(ws[(s+1):(s+{EXSUB_W})], ' ') AS wtext,
         lpad(CAST(doc_id AS VARCHAR), 12, '0') || ':' ||
           lpad(CAST(s AS VARCHAR), 6, '0') AS wkey
  FROM w, unnest(generate_series(0, len(ws) - {EXSUB_W})) AS t(s)
  WHERE len(ws) >= {EXSUB_W}
),
cnt AS (SELECT wtext, count(*) AS cnt, min(wkey) AS winner
        FROM win GROUP BY wtext),
cov AS (
  SELECT doc_id, list(DISTINCT s) AS covered
  FROM win JOIN cnt USING (wtext)
  WHERE cnt.cnt > 1 AND wkey <> winner
  GROUP BY doc_id
),
wp AS (
  SELECT doc_id, CAST(p AS BIGINT) AS pos, ws[p + 1] AS word
  FROM w, unnest(generate_series(0, len(ws) - 1)) AS t(p)
),
keepx AS (
  SELECT wp.doc_id, wp.pos, wp.word,
         len(list_filter(coalesce(cov.covered, []),
                         s -> s >= wp.pos - {EXSUB_W} + 1
                              AND s <= wp.pos)) = 0 AS keep
  FROM wp LEFT JOIN cov USING (doc_id)
)
SELECT doc_id,
       coalesce(string_agg(CASE WHEN keep THEN word END,
                           ' ' ORDER BY pos), '') AS clean_text,
       count(*) AS n_words,
       count(CASE WHEN NOT keep THEN 1 END) AS n_removed
FROM keepx GROUP BY doc_id
"""


def q_dedup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the near-dup pair graph (node-iterator++ /
    Suri-Vassilvitskii): per-document triangle participation is the local
    clustering signal web pipelines use to separate template farms (dense
    near-clique duplicate neighborhoods) from chance pairwise collisions
    (triangle-free stars).

    Scale shape: every edge is DIRECTED from its lower-(degree, id)
    endpoint to the higher one before the wedge self-join, the classic
    trick that bounds total wedge work at O(m^1.5) regardless of skew — a
    boilerplate hub with 10^6 neighbors generates no wedges at all
    centered on itself unless both neighbors out-rank it, instead of the
    naive 10^12 pairs.  All three steps are shuffle equi-joins on node
    keys (wedge join on the center, closure join back against the
    canonical edge set); the pair generation (LSH) runs once, pinned."""
    pairs = q_dedup_minhash_lsh(spark, sf_dir).select("d1", "d2")
    return triangle_counts(_docs(spark, sf_dir).select("doc_id"), pairs)


def triangle_counts(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Degree-ordered triangle counting over an undirected pair list —
    see :func:`q_dedup_triangles` for the dataflow rationale."""
    e = _pin(pairs.select(F.least("d1", "d2").alias("a"),
                          F.greatest("d1", "d2").alias("b")).distinct())
    deg = _pin(e.select(F.col("a").alias("n"))
               .union(e.select(F.col("b").alias("n")))
               .groupBy("n").agg(F.count(F.lit(1)).alias("deg")))
    lower_first = ((F.col("da") < F.col("db"))
                   | ((F.col("da") == F.col("db"))
                      & (F.col("a") < F.col("b"))))
    ed = (e.join(deg.select(F.col("n").alias("a"), F.col("deg").alias("da")),
                 "a")
          .join(deg.select(F.col("n").alias("b"), F.col("deg").alias("db")),
                "b")
          .select(F.when(lower_first, F.col("a")).otherwise(F.col("b"))
                  .alias("u"),
                  F.when(lower_first, F.col("b")).otherwise(F.col("a"))
                  .alias("v")))
    ed = _pin(ed)
    wed = (ed.alias("e1")
           .join(ed.alias("e2"), (F.col("e1.u") == F.col("e2.u"))
                 & (F.col("e1.v") < F.col("e2.v")))
           .select(F.col("e1.u").alias("p"), F.col("e1.v").alias("q"),
                   F.col("e2.v").alias("r")))
    tri = wed.join(e, (F.col("q") == F.col("a"))
                   & (F.col("r") == F.col("b"))).select("p", "q", "r")
    pern = (tri.select(F.explode(F.array("p", "q", "r")).alias("n"))
            .groupBy("n").agg(F.count(F.lit(1)).alias("n_tri")))
    return (docs.join(deg, docs["doc_id"] == deg["n"], "left").drop("n")
            .join(pern, docs["doc_id"] == pern["n"], "left").drop("n")
            .select("doc_id",
                    F.coalesce("deg", F.lit(0)).cast("bigint")
                    .alias("degree"),
                    F.coalesce("n_tri", F.lit(0)).cast("bigint")
                    .alias("n_triangles")))


SQL_DEDUP_TRIANGLES = f"""
WITH pairs AS ({{pairs}}),
e AS (SELECT DISTINCT least(d1, d2) AS a, greatest(d1, d2) AS b FROM pairs),
deg AS (SELECT n, count(*) AS deg
        FROM (SELECT a AS n FROM e UNION ALL SELECT b AS n FROM e)
        GROUP BY n),
ed AS (
  SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
              THEN e.a ELSE e.b END AS u,
         CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
              THEN e.b ELSE e.a END AS v
  FROM e JOIN deg da ON da.n = e.a JOIN deg db ON db.n = e.b),
wed AS (SELECT e1.u AS p, e1.v AS q, e2.v AS r
        FROM ed e1 JOIN ed e2 ON e1.u = e2.u AND e1.v < e2.v),
tri AS (SELECT p, q, r FROM wed JOIN e ON wed.q = e.a AND wed.r = e.b),
pern AS (SELECT n, count(*) AS n_tri
         FROM (SELECT p AS n FROM tri UNION ALL SELECT q AS n FROM tri
               UNION ALL SELECT r AS n FROM tri)
         GROUP BY n)
SELECT d.doc_id,
       CAST(coalesce(g.deg, 0) AS BIGINT) AS degree,
       CAST(coalesce(p.n_tri, 0) AS BIGINT) AS n_triangles
FROM documents d
LEFT JOIN deg g ON g.n = d.doc_id
LEFT JOIN pern p ON p.n = d.doc_id
"""


# -- sorted-neighborhood blocking ----------------------------------------------------

SNM_W = 3        # candidate pairs within this global-rank distance
SNM_KEY_LEN = 12  # normalized sort-key prefix length
SNM_CHUNK = 64   # pigeonhole chunk width for the rank-adjacency equi-join


def q_dedup_sorted_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo): sort the corpus
    by a normalized key and emit every pair within SNM_W positions as a
    dedup candidate — the classic entity-resolution blocker for keys that
    hash-blocking splits (typos, prefixes).

    Scale shape: the GLOBAL rank is built without a single-task window —
    (1) per-coarse-bucket counts (one partial-agg shuffle, tiny result),
    (2) a cumsum over that TINY bucket table (driver-safe), broadcast
    back, (3) per-bucket local row_number + offset.  Adjacency pairs come
    from a pigeonhole chunk equi-join (each right row probes its own and
    the previous rank-chunk), so the join is chunk-local and never O(N²).
    This is the same distributed-ranking shape cur_shard_export uses."""
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.substring(F.regexp_replace(F.lower("text"), "[^a-z]", ""),
                    1, SNM_KEY_LEN).alias("key"))
    d = d.withColumn("bucket", F.substring("key", 1, 1))
    counts = d.groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
    # cumsum over the tiny bucket table (≤ alphabet size — driver-safe)
    woff = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "bucket", F.coalesce(F.sum("n").over(woff), F.lit(0)).alias("off"))
    wloc = Window.partitionBy("bucket").orderBy("key", "doc_id")
    ranked = (d.join(F.broadcast(offsets), "bucket")
              .select("doc_id", "key",
                      (F.col("off") + F.row_number().over(wloc))
                      .alias("rnk"))
              .withColumn("chunk", F.floor((F.col("rnk") - 1) / SNM_CHUNK)))
    a = ranked.alias("a")
    b = (ranked.select(
            F.col("doc_id").alias("doc_b"), F.col("rnk").alias("rnk_b"),
            F.explode(F.array(F.col("chunk"), F.col("chunk") - 1))
            .alias("chunk")))
    return (a.join(b, "chunk")
            .filter((F.col("rnk_b") - F.col("a.rnk") >= 1)
                    & (F.col("rnk_b") - F.col("a.rnk") <= SNM_W))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("doc_b"),
                    (F.col("rnk_b") - F.col("a.rnk")).cast("bigint")
                    .alias("gap")))


SQL_DEDUP_SORTED_BLOCKING = f"""
WITH d AS (
  SELECT doc_id,
         substr(regexp_replace(lower(text), '[^a-z]', '', 'g'),
                1, {SNM_KEY_LEN}) AS key
  FROM documents
),
r AS (SELECT doc_id, row_number() OVER (ORDER BY key, doc_id) AS rnk FROM d)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(b.rnk - a.rnk AS BIGINT) AS gap
FROM r a JOIN r b ON b.rnk - a.rnk BETWEEN 1 AND {SNM_W}
"""


# -- LSH quality eval: recall/precision vs the exact pair set --------------------------

LSH_EVAL_MOD = 1_000_000  # hash-uniform resolution for the eval-universe test
LSH_EVAL_T = 600_000      # eval on the 60% doc universe: hash(doc_id) < T


def _lsh_eval_hash(col) -> "F.Column":
    """Deterministic uniform int in [0, LSH_EVAL_MOD): first 60 bits of
    md5(doc_id), mod LSH_EVAL_MOD — byte-identical to the DuckDB
    ('0x' || substr(md5(x),1,15))::BIGINT % MOD form (the
    cur_universe_sample coherence pattern)."""
    return (F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10)
            .cast("bigint") % LSH_EVAL_MOD)


_LSH_EVAL_SQL = ("(('0x' || substr(md5(CAST({c} AS VARCHAR)), 1, 15))"
                 f"::BIGINT % {LSH_EVAL_MOD}) < {LSH_EVAL_T}")


def q_dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall/precision of the MinHash-LSH index against the EXACT
    Jaccard pair set — the dedup twin of ann_recall_eval: every index
    deployment needs its miss rate measured, not assumed.  Ground truth
    is the brute all-pairs Jaccard >= T set, distributed as the same
    block-pair equi-join dedup_embedding_cosine uses (never a cartesian);
    the threshold rule is BIT-IDENTICAL to the LSH query's verify
    (round(jac,4) >= T), so precision is 100 by construction and the
    driver-gated number that matters is recall — pairs whose bands never
    collide.

    Scale shape: the ground truth is quadratic in the corpus, so BOTH
    sides of the eval are first restricted to the SAME deterministic
    hash-sampled doc universe (_lsh_eval_hash < LSH_EVAL_T, the
    cur_universe_sample coherence trick): a pure function of doc_id, so
    the filter is map-side on the truth scan AND on the LSH pair set
    (both endpoints), no sampled-key exchange, and recall stays unbiased
    because pair survival is independent of band collision.  At
    LSH_EVAL_T = 60% the truth work drops to 0.36x and scales down
    quadratically as the knob tightens for bigger corpora; integer
    percent math end to end."""
    B = COSINE_BLOCKS
    sh = _pin(_docs(spark, sf_dir)
              .filter(_lsh_eval_hash(F.col("doc_id")) < LSH_EVAL_T)
              .select("doc_id", _shingles_col().alias("sh"))
              .filter(F.size("sh") > 0)
              .withColumn("g", F.pmod(F.xxhash64("doc_id"),
                                      F.lit(B)).cast("int")))
    lo = (sh.withColumn("gb", F.explode(F.sequence(F.col("g"), F.lit(B - 1))))
          .select(F.col("g").alias("ga"), "gb",
                  F.col("doc_id").alias("id_a"), F.col("sh").alias("s_a")))
    hi = (sh.withColumn("ga", F.explode(F.sequence(F.lit(0), F.col("g"))))
          .select("ga", F.col("g").alias("gb"),
                  F.col("doc_id").alias("id_b"), F.col("sh").alias("s_b")))
    inter = F.size(F.array_intersect("s_a", "s_b"))
    union = F.size("s_a") + F.size("s_b") - inter
    jac = F.round(inter.cast("double") / union.cast("double"), 4)
    # r6: both pair sets feed TWO consumers each (their own count and the
    # n_hit intersection join) — unpinned, the quadratic block-pair truth
    # verify and the whole LSH pipeline ran twice per query.  The pinned
    # frames are tiny (two-column pair sets), so the materialization is
    # free next to the recompute it saves.
    truth = _pin(lo.join(hi, ["ga", "gb"])
                 .filter((F.col("ga") != F.col("gb"))
                         | (F.col("id_a") < F.col("id_b")))
                 .filter(jac >= MINHASH_JACCARD_T)
                 .select(F.least("id_a", "id_b").alias("d1"),
                         F.greatest("id_a", "id_b").alias("d2")))
    lsh = _pin(q_dedup_minhash_lsh(spark, sf_dir).select("d1", "d2")
               .filter((_lsh_eval_hash(F.col("d1")) < LSH_EVAL_T)
                       & (_lsh_eval_hash(F.col("d2")) < LSH_EVAL_T)))
    n_true = truth.agg(F.count(F.lit(1)).alias("n_true"))
    n_lsh = lsh.agg(F.count(F.lit(1)).alias("n_lsh"))
    n_hit = (truth.join(lsh, ["d1", "d2"])
             .agg(F.count(F.lit(1)).alias("n_hit")))
    return (n_true.crossJoin(F.broadcast(n_lsh))
            .crossJoin(F.broadcast(n_hit))
            .select(F.col("n_true").cast("bigint").alias("n_true"),
                    F.col("n_lsh").cast("bigint").alias("n_lsh"),
                    F.col("n_hit").cast("bigint").alias("n_hit"),
                    F.expr("n_hit * 100 div n_true").cast("bigint")
                     .alias("recall_pct"),
                    F.expr("n_hit * 100 div n_lsh").cast("bigint")
                     .alias("precision_pct")))


SQL_DEDUP_LSH_RECALL = f"""
WITH lshp AS (SELECT d1, d2 FROM ({SQL_DEDUP_MINHASH_LSH}) t_lsh
              WHERE {_LSH_EVAL_SQL.format(c='d1')}
                AND {_LSH_EVAL_SQL.format(c='d2')}),
sh0 AS ({_SQL_SHINGLES}),
ne AS (SELECT doc_id, shingles FROM sh0
       WHERE len(shingles) > 0 AND {_LSH_EVAL_SQL.format(c='doc_id')}),
truth AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2
  FROM ne a JOIN ne b ON a.doc_id < b.doc_id
  WHERE round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
              / (len(a.shingles) + len(b.shingles)
                 - len(list_intersect(a.shingles, b.shingles))), 4)
        >= {MINHASH_JACCARD_T}
),
m AS (
  SELECT (SELECT count(*) FROM truth) AS n_true,
         (SELECT count(*) FROM lshp) AS n_lsh,
         (SELECT count(*) FROM truth JOIN lshp USING (d1, d2)) AS n_hit
)
SELECT CAST(n_true AS BIGINT) AS n_true,
       CAST(n_lsh AS BIGINT) AS n_lsh,
       CAST(n_hit AS BIGINT) AS n_hit,
       CAST(n_hit * 100 // n_true AS BIGINT) AS recall_pct,
       CAST(n_hit * 100 // n_lsh AS BIGINT) AS precision_pct
FROM m
"""


# -- edit-distance verification over blocking candidates -------------------------------

EDIT_MAX_BP = 2000  # keep pairs with levenshtein <= 20% of the longer text


def q_dedup_edit_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level near-dup verification: Levenshtein distance over
    the sorted-neighborhood candidates, kept when the edit distance is
    within EDIT_MAX_BP basis points of the longer text — the verifier
    that catches small in-place edits (typo fixes, template fills) that
    shingle Jaccard under-weights on short documents.

    Scale shape: Levenshtein NEVER runs all-pairs — the blocking stage
    bounds candidates to <= SNM_W per doc and the distance evaluates
    JVM-side (whole-stage codegen) on the candidate-bounded join only.
    Two exact-semantics prunes keep the per-pair cost off O(len²):
    (1) dist >= |len_a - len_b|, so a pure-Catalyst length-difference
    filter drops pairs that cannot clear the EDIT_MAX_BP band before
    any DP runs; (2) the surviving pairs use Spark's BANDED
    levenshtein(l, r, threshold) — O(len·threshold) with an internal
    length-diff early exit — where the corpus-global threshold
    floor(max_len * EDIT_MAX_BP / 10000) dominates every per-row band
    floor(maxlen/5), so banding changes no kept row: a pair banded to
    -1 has dist > threshold >= its own keep bound.  The threshold is a
    1-row scalar (Spark requires a foldable literal).  Integer basis
    points — no float threshold."""
    cand = (q_dedup_sorted_blocking(spark, sf_dir)
            .select("doc_a", "doc_b").distinct())
    t = _docs(spark, sf_dir).select("doc_id", "text")
    # 1-row scalar: the longest text bounds every per-pair band
    row = t.agg(F.max(F.length("text"))).collect()[0][0]
    band = max(int(row or 0) * EDIT_MAX_BP // 10000, 1)
    joined = (cand
              .join(t.select(F.col("doc_id").alias("doc_a"),
                             F.col("text").alias("t_a")), "doc_a")
              .join(t.select(F.col("doc_id").alias("doc_b"),
                             F.col("text").alias("t_b")), "doc_b"))
    maxlen = F.greatest(F.length("t_a"), F.length("t_b"))
    len_gap = F.abs(F.length("t_a") - F.length("t_b"))
    dist = F.levenshtein("t_a", "t_b", band)
    return (joined
            .filter(len_gap * 10000 <= EDIT_MAX_BP * maxlen)
            .select("doc_a", "doc_b", dist.cast("bigint").alias("dist"),
                    (dist * 10000).cast("bigint").alias("dist_x"),
                    maxlen.cast("bigint").alias("maxlen"))
            .filter((F.col("dist") >= 0)
                    & (F.col("dist_x") <= EDIT_MAX_BP * F.col("maxlen")))
            .select("doc_a", "doc_b", "dist",
                    F.expr("dist_x div maxlen").cast("bigint")
                     .alias("dist_bp")))


SQL_DEDUP_EDIT_VERIFY = f"""
WITH blk AS ({SQL_DEDUP_SORTED_BLOCKING}),
cand AS (SELECT DISTINCT doc_a, doc_b FROM blk),
j AS (
  SELECT c.doc_a, c.doc_b,
         levenshtein(a.text, b.text) AS dist,
         greatest(length(a.text), length(b.text)) AS maxlen
  FROM cand c
  JOIN documents a ON a.doc_id = c.doc_a
  JOIN documents b ON b.doc_id = c.doc_b
)
SELECT doc_a, doc_b, CAST(dist AS BIGINT) AS dist,
       CAST(dist * 10000 // maxlen AS BIGINT) AS dist_bp
FROM j
WHERE dist * 10000 <= {EDIT_MAX_BP} * maxlen
"""


# -- end-to-end entity resolution ------------------------------------------------------

ER_T_BP = 5000  # verify gate: Jaccard >= 50%, compared in exact integer bp


def q_dedup_entity_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full entity-resolution funnel in ONE plan — the composition a
    production dedup actually runs, not the stages in isolation:
    sorted-neighborhood BLOCKING proposes candidates (dedup_sorted_blocking
    — typo-tolerant where hash blocking splits), exact shingle-Jaccard
    VERIFIES each candidate (integer basis-point compare, no float
    threshold), connected components RESOLVES verified pairs into
    clusters, and every cluster elects its canonical representative
    (min doc_id) with an auditable member count.

    Scale shape: candidates are blocking-bounded (≤ SNM_W per doc), so
    carrying the two shingle arrays through the verify join is
    candidate-bounded work, never corpus×corpus; the component loop runs
    only over documents that appear in a verified pair; sizes come from
    groupBy+join (map-side partial agg — no mega-cluster straggler
    window)."""
    cand = (q_dedup_sorted_blocking(spark, sf_dir)
            .select("doc_a", "doc_b").distinct())
    sh = (_docs(spark, sf_dir)
          .select("doc_id", _shingles_col().alias("sh"))
          .filter(F.size("sh") > 0))
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sa"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb")).cast("bigint")
    union = (F.size("sa") + F.size("sb")).cast("bigint") - inter
    verified = (cand.join(a, "doc_a").join(b, "doc_b")
                .filter(inter * 10000 >= F.lit(ER_T_BP) * union)
                .select(F.col("doc_a").alias("d1"),
                        F.col("doc_b").alias("d2")))
    labels = connected_components(verified)
    docs = _docs(spark, sf_dir).select("doc_id")
    assigned = (docs.join(labels, docs["doc_id"] == labels["node"], "left")
                .select("doc_id",
                        F.coalesce("label", "doc_id").alias("cluster_id")))
    sizes = assigned.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"))
    return (assigned.join(sizes, "cluster_id")
            .select("doc_id", "cluster_id",
                    (F.col("doc_id") == F.col("cluster_id"))
                    .alias("is_canonical"),
                    "n_members"))


SQL_DEDUP_ENTITY_RESOLVE = f"""
WITH RECURSIVE blk AS ({SQL_DEDUP_SORTED_BLOCKING}),
cand AS (SELECT DISTINCT doc_a, doc_b FROM blk),
sh AS ({{shingles}}),
nonempty AS (SELECT doc_id, shingles FROM sh WHERE len(shingles) > 0),
verified AS (
  SELECT c.doc_a AS d1, c.doc_b AS d2
  FROM cand c
  JOIN nonempty a ON a.doc_id = c.doc_a
  JOIN nonempty b ON b.doc_id = c.doc_b
  WHERE len(list_intersect(a.shingles, b.shingles)) * 10000
        >= {ER_T_BP} * (len(a.shingles) + len(b.shingles)
                        - len(list_intersect(a.shingles, b.shingles)))
),
edges AS (
  SELECT d1 AS a, d2 AS b FROM verified
  UNION
  SELECT d2 AS a, d1 AS b FROM verified),
reach AS (
  SELECT a AS node, a AS r FROM edges
  UNION
  SELECT e.b AS node, reach.r AS r
  FROM reach JOIN edges e ON e.a = reach.node),
clusters AS (
  SELECT node, min(r) AS cluster_id FROM reach GROUP BY node),
assigned AS (
  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN clusters c ON c.node = d.doc_id)
SELECT doc_id, cluster_id,
       doc_id = cluster_id AS is_canonical,
       count(*) OVER (PARTITION BY cluster_id) AS n_members
FROM assigned
"""


def _sql_entity_resolve() -> str:
    return SQL_DEDUP_ENTITY_RESOLVE.format(shingles=_SQL_SHINGLES)


QUERIES = {
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "dedup_soft": (q_dedup_soft, SQL_DEDUP_SOFT),
    "dedup_entity_resolve": (q_dedup_entity_resolve, _sql_entity_resolve()),
    "dedup_lsh_recall": (q_dedup_lsh_recall, SQL_DEDUP_LSH_RECALL),
    "dedup_edit_verify": (q_dedup_edit_verify, SQL_DEDUP_EDIT_VERIFY),
    "dedup_sorted_blocking": (q_dedup_sorted_blocking,
                              SQL_DEDUP_SORTED_BLOCKING),
    "dedup_triangles": (q_dedup_triangles,
                        SQL_DEDUP_TRIANGLES.format(pairs=SQL_DEDUP_MINHASH_LSH)),
    "dedup_exact_substr": (q_dedup_exact_substr, SQL_DEDUP_EXACT_SUBSTR),
    "dedup_components_star": (q_dedup_components_star, SQL_DEDUP_COMPONENTS),
    "dedup_pagerank": (q_dedup_pagerank, _sql_pagerank()),
    "dedup_incremental": (q_dedup_incremental, SQL_DEDUP_INCREMENTAL),
    "dedup_subdoc": (q_dedup_subdoc, SQL_DEDUP_SUBDOC),
    "dedup_semantic": (q_dedup_semantic, SQL_DEDUP_SEMANTIC),
    "dedup_components": (q_dedup_components, SQL_DEDUP_COMPONENTS),
    "dedup_embedding_cosine_lsh": (q_dedup_embedding_cosine_lsh,
                                   _sql_embedding_lsh()),
    "dedup_minhash_lsh": (q_dedup_minhash_lsh, SQL_DEDUP_MINHASH_LSH),
    "dedup_ngram_jaccard": (q_dedup_ngram_jaccard, SQL_DEDUP_NGRAM_JACCARD),
    "dedup_prefix_jaccard": (q_dedup_prefix_jaccard,
                             SQL_DEDUP_PREFIX_JACCARD),
    "dedup_simhash": (q_dedup_simhash, SQL_DEDUP_SIMHASH),
    "dedup_simhash_pairs": (q_dedup_simhash_pairs, SQL_DEDUP_SIMHASH_PAIRS),
    "dedup_embedding_cosine": (q_dedup_embedding_cosine, SQL_DEDUP_EMBEDDING_COSINE),
}
