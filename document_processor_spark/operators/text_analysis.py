"""Text-analysis operators for the training-data pipeline: language ID
(stopword n-gram heuristic), quality scoring, token counting, document
fingerprinting.  All pure Catalyst expressions (codegen, no UDF) with exact
DuckDB oracles — the arithmetic uses identical operation order on both
sides, so results are bit-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from ._scan import read_table

STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is"],
    "fr": ["le", "la", "les", "et", "une", "des"],
    "de": ["der", "die", "und", "das", "ist", "ein"],
    "es": ["el", "los", "las", "y", "una", "por"],
}
_LANG_PRIORITY = ["en", "fr", "de", "es"]

BPE_ISH_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "documents")


def _count_occurrences(padded, word: str):
    """# of occurrences of ' word ' in the padded text — pure integer math
    (length difference / needle length), identical in any engine."""
    needle = f" {word} "
    return ((F.length(padded) - F.length(F.replace(padded, F.lit(needle), F.lit(""))))
            / F.lit(len(needle))).cast("bigint")


def _sql_count(padded: str, word: str) -> str:
    needle = f" {word} "
    return (f"CAST((length({padded}) - length(replace({padded}, '{needle}', '')))"
            f" / {len(needle)} AS BIGINT)")


def q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID with a fixed priority tie-break."""
    d = _docs(spark, sf_dir)
    padded = F.concat(F.lit(" "), F.lower("text"), F.lit(" "))
    scores = {lang: sum((_count_occurrences(padded, w) for w in ws[1:]),
                        _count_occurrences(padded, ws[0]))
              for lang, ws in STOPWORDS.items()}
    pred = F
    expr = None
    for lang in _LANG_PRIORITY:
        cond = None
        for other in _LANG_PRIORITY:
            if other == lang:
                continue
            c = scores[lang] >= scores[other]
            cond = c if cond is None else (cond & c)
        expr = (F.when(cond, F.lit(lang)) if expr is None
                else expr.when(cond, F.lit(lang)))
    cols = [F.col("doc_id")]
    cols += [scores[lang].alias(f"score_{lang}") for lang in _LANG_PRIORITY]
    cols += [expr.otherwise(F.lit("und")).alias("pred_lang")]
    return d.select(*cols)


def _sql_langid() -> str:
    padded = "(' ' || lower(text) || ' ')"
    score = {lang: " + ".join(_sql_count(padded, w) for w in ws)
             for lang, ws in STOPWORDS.items()}
    whens = []
    for lang in _LANG_PRIORITY:
        conds = " AND ".join(
            f"({score[lang]}) >= ({score[o]})"
            for o in _LANG_PRIORITY if o != lang)
        whens.append(f"WHEN {conds} THEN '{lang}'")
    score_cols = ",\n       ".join(
        f"({score[lang]}) AS score_{lang}" for lang in _LANG_PRIORITY)
    return f"""
SELECT doc_id,
       {score_cols},
       CASE {' '.join(whens)} ELSE 'und' END AS pred_lang
FROM documents
"""


def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length / punctuation / stopword-ratio quality score (the classic
    web-corpus filters), one pass, exact arithmetic.  r6: single-parse SQL
    strings (the _sql_count builder is valid Spark SQL too) — the Column
    construction cost 0.16 s of driver py4j per run; the expression trees
    and results are unchanged."""
    d = _docs(spark, sf_dir)
    n_chars = "CAST(length(text) AS DOUBLE)"
    n_words = "CAST(size(split(text, ' ', -1)) AS DOUBLE)"
    punct = ("CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', "
             "'')) AS DOUBLE)")
    padded = "concat(' ', lower(text), ' ')"
    stop = "CAST({} AS DOUBLE)".format(
        " + ".join(_sql_count(padded, w) for w in STOPWORDS["en"]))
    return d.selectExpr(
        "doc_id",
        f"CAST({n_words} AS BIGINT) AS n_words",
        f"round(({n_chars} - ({n_words} - 1)) / {n_words}, 4)"
        " AS avg_word_len",
        f"round({punct} / {n_chars}, 4) AS punct_ratio",
        f"round({stop} / {n_words}, 4) AS stopword_ratio",
        f"round(0.4D * least({n_words} / 100.0D, 1.0D)"
        f" + 0.3D * least(({stop} / {n_words}) * 5, 1.0D)"
        f" + 0.3D * (1.0D - least(({punct} / {n_chars}) * 10, 1.0D)), 4)"
        " AS quality_score")


def _sql_quality() -> str:
    padded = "(' ' || lower(text) || ' ')"
    stop = " + ".join(_sql_count(padded, w) for w in STOPWORDS["en"])
    return f"""
WITH q AS (
  SELECT doc_id,
         CAST(length(text) AS DOUBLE) AS n_chars,
         CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_words,
         CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE) AS punct,
         CAST({stop} AS DOUBLE) AS stop
  FROM documents
)
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       round((n_chars - (n_words - 1)) / n_words, 4) AS avg_word_len,
       round(punct / n_chars, 4) AS punct_ratio,
       round(stop / n_words, 4) AS stopword_ratio,
       round(0.4 * least(n_words / 100.0, 1.0)
           + 0.3 * least((stop / n_words) * 5, 1.0)
           + 0.3 * (1.0 - least((punct / n_chars) * 10, 1.0)), 4) AS quality_score
FROM q
"""


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.size(F.split("text", " ", -1)).cast("bigint").alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(BPE_ISH_PATTERN), 0))
         .cast("bigint").alias("bpe_ish_tokens"),
        F.length("text").cast("bigint").alias("n_chars_measured"))


SQL_TOKEN_COUNT = f"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '{BPE_ISH_PATTERN}')) AS BIGINT) AS bpe_ish_tokens,
       CAST(length(text) AS BIGINT) AS n_chars_measured
FROM documents
"""


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-invariant document fingerprint: md5 over the sorted distinct
    lower-cased vocabulary — the cheap canonical-content hash."""
    d = _docs(spark, sf_dir)
    vocab = F.array_sort(F.array_distinct(F.split(F.lower("text"), " ", -1)))
    return d.select(
        "doc_id",
        F.md5(F.array_join(vocab, " ")).alias("fingerprint"),
        F.size(vocab).cast("bigint").alias("vocab_size"))


SQL_FINGERPRINT = """
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')) AS fingerprint,
       CAST(len(list_distinct(string_split(lower(text), ' '))) AS BIGINT) AS vocab_size
FROM documents
"""


# -- winnowing fingerprint (Schleimer/Wilkerson/Aiken, SIGMOD'03) -------------
# Position-robust content fingerprint: hash every K-char k-gram, then keep
# the minimum hash of each W-hash window ("local minima" selection) — the
# guarantee is that any match of length >= W+K-1 shares a fingerprint.  Both
# sides run the identical integer pipeline (md5 -> first 60 bits -> mod P),
# entirely as array expressions: Catalyst whole-stage codegen on the Spark
# side, list comprehensions on the DuckDB side — no UDF, one narrow pass,
# no shuffle; scales as a pure map stage.

WINNOW_K = 8   # k-gram length in chars
WINNOW_W = 4   # window of consecutive k-gram hashes
WINNOW_P = 2_147_483_647


def q_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    # CASE guards: Spark's sequence(1, 0) yields a DESCENDING [1,0], not an
    # empty array, so short texts must short-circuit to array() explicitly.
    hs = f"""CASE WHEN length(lower(text)) >= {WINNOW_K}
        THEN transform(sequence(1, length(lower(text)) - {WINNOW_K - 1}),
                       i -> cast(conv(substring(md5(substring(lower(text), i, {WINNOW_K})), 1, 15), 16, 10) AS bigint) % {WINNOW_P})
        ELSE array() END"""
    fps = f"""CASE WHEN size(hs) >= {WINNOW_W}
        THEN array_sort(array_distinct(transform(
                 sequence(1, size(hs) - {WINNOW_W - 1}),
                 j -> array_min(slice(hs, j, {WINNOW_W})))))
        ELSE array_sort(array_distinct(hs)) END"""
    return (d.select("doc_id", F.expr(hs).alias("hs"))
            .select("doc_id", F.expr(fps).alias("fps"))
            .select(
                "doc_id",
                F.size("fps").cast("bigint").alias("n_fingerprints"),
                F.coalesce(F.array_min("fps"), F.lit(-1)).alias("min_fp"),
                F.md5(F.array_join(F.transform(
                    "fps", lambda x: x.cast("string")), ",")).alias("winnow_digest")))


SQL_WINNOW = f"""
WITH hs AS (
  SELECT doc_id,
         CASE WHEN length(lower(text)) >= {WINNOW_K}
              THEN list_transform(
                     generate_series(1, length(lower(text)) - {WINNOW_K - 1}),
                     i -> ('0x' || substr(md5(substr(lower(text), CAST(i AS INTEGER), {WINNOW_K})), 1, 15))::BIGINT % {WINNOW_P})
              ELSE [] END AS hs
  FROM documents
), fps AS (
  SELECT doc_id,
         CASE WHEN len(hs) >= {WINNOW_W}
              THEN list_sort(list_distinct(list_transform(
                     generate_series(1, len(hs) - {WINNOW_W - 1}),
                     j -> list_min(list_slice(hs, j, j + {WINNOW_W - 1})))))
              ELSE list_sort(list_distinct(hs)) END AS fps
  FROM hs
)
SELECT doc_id,
       CAST(len(fps) AS BIGINT) AS n_fingerprints,
       coalesce(list_min(fps), -1) AS min_fp,
       md5(array_to_string(list_transform(fps, x -> CAST(x AS VARCHAR)), ',')) AS winnow_digest
FROM fps
"""


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality signals (the Gopher-rules family):
    duplicate-unigram and duplicate-bigram fractions plus the most
    frequent word and its frequency share.  The dup fractions are pure
    narrow array math (split -> array_distinct -> size), map-only, no
    shuffle; the per-doc mode (top word) uses explode + two-level
    aggregation — the same partial-agg-then-shuffle shape as a word
    count, so at 10^12 docs the shuffle carries only (doc_id, word,
    count) partial rows, never raw text.  Ties on the top count break to
    the lexicographically LARGEST word via max(struct(cnt, word)) —
    deterministic and identically defined in the SQL oracle."""
    d = _docs(spark, sf_dir)
    words = F.split("text", " ", -1)
    bigrams = F.expr(
        "transform(slice(split(text, ' '), 1, size(split(text, ' ')) - 1), "
        "(w, i) -> concat(w, ' ', element_at(split(text, ' '), i + 2)))")
    base = d.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.size(words).alias("n_words"),
        F.size(F.array_distinct(words)).alias("n_distinct_words"),
        F.size(bigrams).alias("n_bigrams"),
        F.size(F.array_distinct(bigrams)).alias("n_distinct_bigrams"))
    top = (d.select(F.col("doc_id").cast("string").alias("doc_id"),
                    F.explode(words).alias("w"))
           .groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
           .groupBy("doc_id")
           .agg(F.max(F.struct(F.col("c"), F.col("w"))).alias("m"))
           .select("doc_id", F.col("m.w").alias("top_word"),
                   F.col("m.c").alias("top_word_count")))
    def frac(num, den):  # ANSI-safe: when() guards the division
        return F.when(den > 0, F.round(1 - num / den, 4))
    return (base.join(top, "doc_id")
            .select(
                "doc_id", "n_words",
                frac(F.col("n_distinct_words"), F.col("n_words"))
                 .alias("dup_word_frac"),
                frac(F.col("n_distinct_bigrams"), F.col("n_bigrams"))
                 .alias("dup_bigram_frac"),
                "top_word",
                F.when(F.col("n_words") > 0,
                       F.round(F.col("top_word_count") / F.col("n_words"), 4))
                 .alias("top_word_frac")))


SQL_REPETITION = """
WITH w AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         string_split(text, ' ') AS ws
  FROM documents
), base AS (
  SELECT doc_id,
         len(ws) AS n_words,
         len(list_distinct(ws)) AS n_distinct_words,
         len(ws) - 1 AS n_bigrams,
         len(list_distinct(list_transform(list_slice(ws, 1, len(ws) - 1),
             (x, i) -> x || ' ' || ws[i + 1]))) AS n_distinct_bigrams
  FROM w
), counts AS (
  SELECT doc_id, u.w AS w, count(*) AS c
  FROM w, unnest(ws) AS u(w)
  GROUP BY doc_id, u.w
), top AS (
  SELECT doc_id, w AS top_word, c AS top_word_count,
         row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, w DESC) AS rn
  FROM counts
)
SELECT b.doc_id,
       CAST(b.n_words AS INTEGER) AS n_words,
       CASE WHEN b.n_words > 0 THEN
         round(1 - CAST(b.n_distinct_words AS DOUBLE) / b.n_words, 4) END AS dup_word_frac,
       CASE WHEN b.n_bigrams > 0 THEN
         round(1 - CAST(b.n_distinct_bigrams AS DOUBLE) / b.n_bigrams, 4) END AS dup_bigram_frac,
       t.top_word,
       CASE WHEN b.n_words > 0 THEN
         round(CAST(t.top_word_count AS DOUBLE) / b.n_words, 4) END AS top_word_frac
FROM base b JOIN top t ON b.doc_id = t.doc_id AND t.rn = 1
"""


TFIDF_TOP_K = 3


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k terms per document by tf-idf — the keyword-extraction /
    feature-selection primitive of a corpus build.  Dataflow at 10^12
    docs: one explode + groupBy(doc_id, word) carries only (doc_id, word,
    tf) partial-aggregated rows; document frequency is a vocab-sized
    aggregate (tiny vs the corpus — broadcast-joined back, no corpus
    re-shuffle); the final top-k is a per-doc window over the already
    doc-partitioned tf rows.  idf = ln((N+1)/(df+1)) + 1 (smoothed,
    sklearn convention); ties break score DESC, word ASC —
    deterministic and identical in the SQL oracle."""
    d = _docs(spark, sf_dir)
    n_docs = F.broadcast(
        d.filter(F.length("text") > 0)
        .agg(F.count(F.lit(1)).cast("double").alias("n_docs")))
    tf = (d.filter(F.length("text") > 0)
          .select(F.col("doc_id").cast("string").alias("doc_id"),
                  F.explode(F.split("text", " ", -1)).alias("word"))
          .filter(F.col("word") != "")
          .groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf")))
    df_ = (tf.groupBy("word")
           .agg(F.count(F.lit(1)).cast("double").alias("df")))
    from pyspark.sql import Window as W
    # plain equi-join on word — no broadcast hint: distinct-word count is
    # vocab-sized (10^9+ at web scale, same rule as ta_lm_xent/ta_bm25);
    # AQE still picks a broadcast when df_ actually fits
    scored = (tf.join(df_, "word").crossJoin(n_docs)
              .select("doc_id", "word", "tf",
                      (F.col("tf") * (F.log((F.col("n_docs") + 1)
                                            / (F.col("df") + 1)) + 1))
                      .alias("score")))
    w = W.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("word"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TFIDF_TOP_K)
            .select("doc_id", F.col("rank").cast("bigint").alias("rank"),
                    "word", F.col("tf").alias("tf"),
                    F.round("score", 6).alias("tfidf")))


SQL_TFIDF_TOPK = f"""
WITH tf AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, u.word AS word,
         count(*) AS tf
  FROM documents, unnest(string_split(text, ' ')) AS u(word)
  WHERE length(text) > 0 AND u.word <> ''
  GROUP BY doc_id, u.word
), n AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents
  WHERE length(text) > 0
), df AS (
  SELECT word, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY word
), scored AS (
  SELECT tf.doc_id, tf.word, tf.tf,
         tf.tf * (ln((n.n_docs + 1) / (df.df + 1)) + 1) AS score
  FROM tf JOIN df USING (word) CROSS JOIN n
), ranked AS (
  SELECT doc_id, word, tf, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, word) AS rank
  FROM scored
)
SELECT doc_id, rank, word, tf, round(score, 6) AS tfidf
FROM ranked WHERE rank <= {TFIDF_TOP_K}
"""


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus audit — the report a training-data build runs
    before fixing mixture weights: doc count, language spread, exact
    token-length percentiles (Spark `percentile` and DuckDB
    `quantile_cont` share linear-interpolation semantics, so the oracle
    is exact), total characters, mean tokens.  One hash-shuffle groupBy;
    the exact percentile sorts within each source group — fine while a
    per-source group fits an executor (it does at any realistic source
    cardinality), and the 10^12-row fallback is the sketch-mergeable
    `percentile_approx` with the same query shape."""
    d = _docs(spark, sf_dir)
    tokens = F.size(F.split("text", " ", -1)).cast("bigint")
    return (d.select("source", "lang", "n_chars", tokens.alias("tokens"))
            .groupBy("source")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.count_distinct("lang").cast("bigint").alias("n_langs"),
                 F.round(F.expr("percentile(tokens, 0.5)"), 4)
                  .alias("tokens_p50"),
                 F.round(F.expr("percentile(tokens, 0.9)"), 4)
                  .alias("tokens_p90"),
                 F.sum("n_chars").cast("bigint").alias("total_chars"),
                 F.round(F.avg("tokens"), 4).alias("tokens_mean")))


SQL_CORPUS_STATS = """
WITH t AS (
  SELECT source, lang, n_chars,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens
  FROM documents)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       round(quantile_cont(tokens, 0.5), 4) AS tokens_p50,
       round(quantile_cont(tokens, 0.9), 4) AS tokens_p90,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       round(avg(tokens), 4) AS tokens_mean
FROM t GROUP BY source
"""


# -- LM cross-entropy filter (CCNet-style perplexity gate) -------------------
#
# CCNet (Wenzek et al. 2020) ranks web documents by the perplexity of a
# Kneser-Ney LM trained on a trusted reference corpus and drops the worst
# tail — the canonical statistical quality gate of a web-scale corpus
# build.  The deterministic analog here: a word-bigram model with add-one
# smoothing counted on a held-out reference slice (doc_id % LM_REF_MOD
# == 0), scoring every other document by its cross-entropy under that
# model.  Dataflow at 10^12 docs: the model is one groupBy(gram) over the
# reference slice (bigram vocab can exceed broadcast size, so scoring
# shuffle-joins on gram — co-partitioned equi-join, never a broadcast of
# the vocab); per-doc scores fold over an array_sort'ed count list, the
# same exact-order discipline as the kmeans distance folds, so the DuckDB
# oracle is bit-identical.

LM_REF_MOD = 7     # doc_id % LM_REF_MOD == 0 -> reference slice the LM counts
LM_XENT_T = 6.9    # nats/bigram; docs at/above this are flagged
# 6.9 sits at the fixture corpora's median xent (sf0.001 range
# [6.64, 7.15], sf0.01 [6.58, 7.20]) so both flag outcomes occur;
# a production gate would set this from a reference-percentile scan.


def _bigrams_col():
    """Adjacent lower-cased word bigrams as a narrow array expression —
    no explode until the model join needs one row per gram."""
    toks = F.filter(F.split(F.lower("text"), " ", -1),
                    lambda w: w != F.lit(""))
    n = F.size(toks)
    return F.when(n >= 2, F.zip_with(
        F.slice(toks, 1, n - 1), F.slice(toks, 2, n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b))
    ).otherwise(F.array().cast("array<string>"))


def q_lm_xent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-entropy (nats/bigram) of each training document under the
    reference-slice bigram LM with add-one smoothing:
    xent = ln(N + V) - mean(ln(c(g) + 1)) over the doc's bigrams, where
    c(g) is the reference count, N the total reference bigrams, V the
    vocabulary size.  High xent = far from the reference distribution —
    the CCNet drop criterion."""
    d = _docs(spark, sf_dir).select("doc_id", _bigrams_col().alias("grams"))
    ref = d.filter(F.col("doc_id") % LM_REF_MOD == 0)
    model = (ref.select(F.explode("grams").alias("gram"))
             .groupBy("gram").agg(F.count(F.lit(1)).alias("c")))
    stats = (model.agg(F.sum("c").alias("n_total"),
                       F.count(F.lit(1)).alias("v")))
    train = d.filter((F.col("doc_id") % LM_REF_MOD != 0)
                     & (F.size("grams") > 0))
    counts = (train.select("doc_id", F.explode("grams").alias("gram"))
              .join(model, "gram", "left")
              .select("doc_id", F.coalesce("c", F.lit(0)).alias("c"))
              .groupBy("doc_id")
              .agg(F.array_sort(F.collect_list("c")).alias("cs")))
    fold = F.aggregate(
        "cs", F.lit(0.0),
        lambda acc, c: acc + F.log(c.cast("double") + F.lit(1.0)))
    xent = F.round(
        F.log((F.col("n_total") + F.col("v")).cast("double"))
        - fold / F.size("cs").cast("double"), 4)
    return (counts.crossJoin(F.broadcast(stats))
            .select("doc_id",
                    F.size("cs").cast("bigint").alias("n_bigrams"),
                    xent.alias("xent"),
                    (xent >= LM_XENT_T).alias("high_xent")))


SQL_LM_XENT = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), w -> w <> '') AS toks
  FROM documents),
g AS (
  SELECT doc_id,
         list_transform(generate_series(1, len(toks) - 1),
                        i -> toks[i] || ' ' || toks[i + 1]) AS grams
  FROM t),
model AS (
  SELECT gram, count(*) AS c
  FROM (SELECT unnest(grams) AS gram FROM g WHERE doc_id % {LM_REF_MOD} = 0)
  GROUP BY gram),
stats AS (SELECT sum(c) AS n_total, count(*) AS v FROM model),
train AS (
  SELECT doc_id, unnest(grams) AS gram FROM g
  WHERE doc_id % {LM_REF_MOD} <> 0 AND len(grams) > 0),
counts AS (
  SELECT tr.doc_id,
         list(coalesce(m.c, 0) ORDER BY coalesce(m.c, 0)) AS cs
  FROM train tr LEFT JOIN model m USING (gram)
  GROUP BY tr.doc_id),
scored AS (
  SELECT doc_id, cs,
         round(ln(CAST(n_total + v AS DOUBLE))
               - list_reduce(list_transform(cs,
                     c -> ln(CAST(c AS DOUBLE) + 1.0)), (x, y) -> x + y)
                 / CAST(len(cs) AS DOUBLE), 4) AS xent
  FROM counts CROSS JOIN stats)
SELECT doc_id,
       CAST(len(cs) AS BIGINT) AS n_bigrams,
       xent,
       xent >= {LM_XENT_T} AS high_xent
FROM scored
"""


# -- quality-classifier evaluation: exact ROC-AUC -----------------------------

def q_quality_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of the quality score against the English/non-English
    split — the calibration check a corpus build runs before trusting a
    quality gate.  The AUC value IS the diagnostic: on this synthetic
    corpus it sits near 500000 ppm (the generator draws every language's
    tokens from overlapping pools, so the EN-stopword feature does not
    separate `lang`), exactly the negative result that tells a builder
    not to ship the gate as a language filter.  Mann-Whitney rank-sum
    form with the standard tie correction, ALL-INTEGER:

        2U = sum_b (2 * n_pos_b * cum_neg_below_b + n_pos_b * n_neg_b)
        auc_ppm = (1e6 * 2U) div (2 * P * N)

    Scale shape: scores floor-quantize to a BOUNDED domain (0..10000), so
    the per-bucket (n_pos, n_neg) aggregate is ONE map-side-combinable
    shuffle whose output is <=10001 rows whatever the corpus size; the
    cumulative-negatives window runs over that tiny bucket table (the
    dedup_sorted_blocking bucket-cumsum discipline — never a per-row
    global window).  Pair-count products and sums run in DECIMAL(38,0)
    end-to-end — operands are cast BEFORE the multiply, so the per-bucket
    2*n_pos_b*below_b term (up to ~9e18 at ~3e9 eval docs, past BIGINT)
    never wraps; an empty document (n_chars = 0) takes punct_ratio = 0
    instead of 0/0 = NaN, which Spark would silently bucket at 0 while
    DuckDB errors on CAST(NaN AS BIGINT)."""
    from pyspark.sql import Window as W
    d = _docs(spark, sf_dir)
    n_chars = F.length("text").cast("double")
    n_words = F.size(F.split("text", " ", -1)).cast("double")
    punct = (F.length("text")
             - F.length(F.regexp_replace("text", r"[.,;:!?]", ""))).cast("double")
    punct_ratio = F.when(n_chars > 0, punct / n_chars).otherwise(F.lit(0.0))
    padded = F.concat(F.lit(" "), F.lower("text"), F.lit(" "))
    stop = sum((_count_occurrences(padded, w) for w in STOPWORDS["en"][1:]),
               _count_occurrences(padded, STOPWORDS["en"][0])).cast("double")
    score = (F.lit(0.4) * F.least(n_words / F.lit(100.0), F.lit(1.0))
             + F.lit(0.3) * F.least(stop / n_words * 5, F.lit(1.0))
             + F.lit(0.3) * (F.lit(1.0) - F.least(punct_ratio * 10,
                                                  F.lit(1.0))))
    s = d.select(F.floor(score * 10000).cast("bigint").alias("score_q"),
                 (F.col("lang") == "en").alias("pos"))
    g = s.groupBy("score_q").agg(
        F.sum(F.when(F.col("pos"), 1).otherwise(0)).alias("n_pos"),
        F.sum(F.when(~F.col("pos"), 1).otherwise(0)).alias("n_neg"))
    # cumsum over the <=10001-row bucket table — tiny-frame window
    wb = W.orderBy("score_q").rowsBetween(W.unboundedPreceding, -1)
    c = g.select("score_q", "n_pos", "n_neg",
                 F.coalesce(F.sum("n_neg").over(wb), F.lit(0)).alias("below"))
    dec = "decimal(38,0)"
    # cast each operand to decimal BEFORE multiplying: BIGINT*BIGINT would
    # silently wrap (non-ANSI) at ~3e9 eval docs, defeating the cast after
    npos, nneg, below = (F.col(x).cast(dec) for x in ("n_pos", "n_neg",
                                                      "below"))
    t = c.agg(
        F.sum(npos).alias("p"),
        F.sum(nneg).alias("n"),
        F.sum(F.lit(2).cast(dec) * npos * below + npos * nneg)
        .cast(dec).alias("two_u"))
    return t.select(
        F.col("p").cast("bigint").alias("n_pos"),
        F.col("n").cast("bigint").alias("n_neg"),
        F.expr("CAST((1000000 * two_u) DIV (2 * p * n) AS BIGINT)")
        .alias("auc_ppm"))


def _sql_quality_auc() -> str:
    padded = "(' ' || lower(text) || ' ')"
    stop = " + ".join(_sql_count(padded, w) for w in STOPWORDS["en"])
    return f"""
WITH q AS (
  SELECT lang,
         CAST(length(text) AS DOUBLE) AS n_chars,
         CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_words,
         CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))
              AS DOUBLE) AS punct,
         CAST({stop} AS DOUBLE) AS stop
  FROM documents
), s AS (
  SELECT CAST(floor((0.4 * least(n_words / 100.0, 1.0)
                     + 0.3 * least(stop / n_words * 5, 1.0)
                     + 0.3 * (1.0 - least(
                         (CASE WHEN n_chars > 0 THEN punct / n_chars
                               ELSE 0.0 END) * 10, 1.0)))
                    * 10000) AS BIGINT) AS score_q,
         (lang = 'en') AS pos
  FROM q
), g AS (
  SELECT score_q,
         sum(CASE WHEN pos THEN 1 ELSE 0 END) AS n_pos,
         sum(CASE WHEN pos THEN 0 ELSE 1 END) AS n_neg
  FROM s GROUP BY score_q
), c AS (
  SELECT score_q, n_pos, n_neg,
         coalesce(sum(n_neg) OVER (ORDER BY score_q
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
  FROM g
), t AS (
  -- HUGEINT (int128) operands BEFORE the multiply: DuckDB cannot widen a
  -- DECIMAL(38,0) product past width 38, and a BIGINT multiply would
  -- error at ~3e9 eval docs; int128 is exact to ~1.7e38
  SELECT sum(CAST(n_pos AS HUGEINT)) AS p,
         sum(CAST(n_neg AS HUGEINT)) AS n,
         sum(2 * CAST(n_pos AS HUGEINT) * CAST(below AS HUGEINT)
             + CAST(n_pos AS HUGEINT) * CAST(n_neg AS HUGEINT)) AS two_u
  FROM c)
SELECT CAST(p AS BIGINT) AS n_pos,
       CAST(n AS BIGINT) AS n_neg,
       CAST((1000000 * two_u) // (2 * p * n) AS BIGINT) AS auc_ppm
FROM t
"""


# -- interpolated Kneser-Ney bigram LM ----------------------------------------
#
# The smoothing CCNet-class quality filters actually want once the corpus
# is big enough for add-one to over-penalize frequent contexts (Kneser-Ney,
# Chen & Goodman 1999): absolute-discount the bigram count and back off to
# the CONTINUATION probability (how many distinct contexts a word follows),
# not the raw unigram.  Same dataflow discipline as ta_lm_xent — every
# model table (gram counts, per-context totals, continuation counts) is
# shuffle-joined on its word key, never broadcast (vocab can exceed 10^9
# rows); the two global scalars (B, V) are 1-row broadcasts; per-doc scores
# fold over a value-sorted term list so the DuckDB oracle is bit-identical.

KN_D_NUM = 3   # discount D = KN_D_NUM / KN_D_DEN = 0.75 (exact in binary)
KN_D_DEN = 4


def q_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy (nats/bigram, floor-quantized to 1e-4)
    under an interpolated Kneser-Ney bigram LM trained on the reference
    slice:

        P(w2|w1) = (max(c(w1 w2) - D, 0) + D * N1+(w1,.) * Pc(w2)) / c(w1.)
        Pc(w2)   = (N1+(., w2) + 1) / (B + V)      [add-one continuation]
        fallback to Pc(w2) when w1 never opens a reference bigram.

    c/N1+ are exact integer aggregates; B = distinct reference bigrams,
    V = distinct continuation words."""
    D = F.lit(KN_D_NUM / KN_D_DEN)
    d = _docs(spark, sf_dir).select("doc_id", _bigrams_col().alias("grams"))
    model = (d.filter(F.col("doc_id") % LM_REF_MOD == 0)
             .select(F.explode("grams").alias("gram"))
             .groupBy("gram").agg(F.count(F.lit(1)).alias("c12")))
    w1s = (model.groupBy(F.substring_index("gram", " ", 1).alias("w1"))
           .agg(F.sum("c12").alias("c1"), F.count(F.lit(1)).alias("n1f")))
    w2s = (model.groupBy(F.substring_index("gram", " ", -1).alias("w2"))
           .agg(F.count(F.lit(1)).alias("n1b")))
    stats = (model.agg(F.count(F.lit(1)).alias("b"))
             .crossJoin(F.broadcast(w2s.agg(F.count(F.lit(1)).alias("v")))))
    train = (d.filter((F.col("doc_id") % LM_REF_MOD != 0)
                      & (F.size("grams") > 0))
             .select("doc_id", F.explode("grams").alias("gram"))
             .select("doc_id", "gram",
                     F.substring_index("gram", " ", 1).alias("w1"),
                     F.substring_index("gram", " ", -1).alias("w2")))
    pc = (F.coalesce("n1b", F.lit(0)) + 1).cast("double") \
        / (F.col("b") + F.col("v")).cast("double")
    p = F.when(
        F.col("c1").isNotNull(),
        (F.greatest(F.coalesce("c12", F.lit(0)).cast("double") - D, F.lit(0.0))
         + D * F.col("n1f").cast("double") * pc)
        / F.col("c1").cast("double")).otherwise(pc)
    terms = (train
             .join(model, "gram", "left")
             .join(w1s, "w1", "left")
             .join(w2s, "w2", "left")
             .crossJoin(F.broadcast(stats))
             .select("doc_id", (-F.log(p)).alias("t")))
    per_doc = (terms.groupBy("doc_id")
               .agg(F.array_sort(F.collect_list("t")).alias("ts")))
    s = F.aggregate("ts", F.lit(0.0), lambda acc, x: acc + x)
    return per_doc.select(
        "doc_id",
        F.size("ts").cast("bigint").alias("n_bigrams"),
        F.floor(s * 10000 / F.size("ts").cast("double"))
        .cast("bigint").alias("xent_q"))


SQL_KNESER_NEY = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), w -> w <> '') AS toks
  FROM documents),
g AS (
  SELECT doc_id,
         list_transform(generate_series(1, len(toks) - 1),
                        i -> toks[i] || ' ' || toks[i + 1]) AS grams
  FROM t),
model AS (
  SELECT gram, count(*) AS c12
  FROM (SELECT unnest(grams) AS gram FROM g WHERE doc_id % {LM_REF_MOD} = 0)
  GROUP BY gram),
w1s AS (
  SELECT split_part(gram, ' ', 1) AS w1,
         sum(c12) AS c1, count(*) AS n1f
  FROM model GROUP BY 1),
w2s AS (
  SELECT split_part(gram, ' ', 2) AS w2, count(*) AS n1b
  FROM model GROUP BY 1),
stats AS (
  SELECT (SELECT count(*) FROM model) AS b,
         (SELECT count(*) FROM w2s) AS v),
train AS (
  SELECT doc_id, gram,
         split_part(gram, ' ', 1) AS w1,
         split_part(gram, ' ', 2) AS w2
  FROM (SELECT doc_id, unnest(grams) AS gram FROM g
        WHERE doc_id % {LM_REF_MOD} <> 0 AND len(grams) > 0)),
terms AS (
  SELECT tr.doc_id,
         -ln(CASE WHEN w1s.c1 IS NOT NULL THEN
               (greatest(CAST(coalesce(m.c12, 0) AS DOUBLE)
                         - ({KN_D_NUM} / {KN_D_DEN}.0), 0.0)
                + ({KN_D_NUM} / {KN_D_DEN}.0) * CAST(w1s.n1f AS DOUBLE)
                       * (CAST(coalesce(w2s.n1b, 0) + 1 AS DOUBLE)
                          / CAST(s.b + s.v AS DOUBLE)))
               / CAST(w1s.c1 AS DOUBLE)
             ELSE CAST(coalesce(w2s.n1b, 0) + 1 AS DOUBLE)
                  / CAST(s.b + s.v AS DOUBLE) END) AS t
  FROM train tr
  LEFT JOIN model m USING (gram)
  LEFT JOIN w1s ON tr.w1 = w1s.w1
  LEFT JOIN w2s ON tr.w2 = w2s.w2
  CROSS JOIN stats s),
per_doc AS (
  SELECT doc_id, list(t ORDER BY t) AS ts
  FROM terms GROUP BY doc_id)
SELECT doc_id,
       CAST(len(ts) AS BIGINT) AS n_bigrams,
       CAST(floor(list_reduce(list_prepend(0.0, ts), (x, y) -> x + y)
                  * 10000 / CAST(len(ts) AS DOUBLE)) AS BIGINT) AS xent_q
FROM per_doc
"""


# -- word-entropy / lexical-diversity signal ----------------------------------
#
# Shannon entropy of the within-document word distribution plus the
# type-token ratio — the lexical-diversity quality signals (a boilerplate
# page or keyword-stuffed spam page has low entropy; Gopher/C4-class
# filters cut on exactly this family).  Implementation is MAP-ONLY, zero
# shuffle, pure Catalyst: sort the token array, find run boundaries with
# an indexed filter against a sentinel-padded shifted view (no
# out-of-bounds element_at, ANSI-safe), difference consecutive boundary
# positions into run lengths, and fold -sum((c/n) ln(c/n)) in boundary
# order — the same exact-order discipline as every fold here, so the
# DuckDB oracle is bit-identical.  At 10^12 docs this is one narrow
# projection over the scan.


def q_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    toks = F.filter(F.split(F.lower("text"), " ", -1),
                    lambda w: w != F.lit(""))
    d = d.select("doc_id", F.array_sort(toks).alias("st"))
    n = F.size("st")
    # shifted view padded with "" (tokens are non-empty, so the sentinel
    # can never equal a token): position i is a run end iff st[i] != pad[i+1]
    pad = F.concat("st", F.array(F.lit("")))
    ends = F.filter(
        F.sequence(F.lit(1), n),
        lambda i: F.element_at(F.col("st"), i)
        != F.element_at(pad, (i + F.lit(1)).cast("int")))
    d = d.filter(n > 0).select(
        "doc_id", n.alias("n"), ends.alias("ends"))
    counts = F.transform(
        F.sequence(F.lit(1), F.size("ends")),
        lambda j: F.when(j == 1, F.element_at(F.col("ends"), F.lit(1)))
        .otherwise(F.element_at(F.col("ends"), j.cast("int"))
                   - F.element_at(F.col("ends"), (j - F.lit(1)).cast("int"))))
    d = d.select("doc_id", "n", counts.alias("cs"))
    p = lambda c: c.cast("double") / F.col("n").cast("double")  # noqa: E731
    ent = -F.aggregate(
        "cs", F.lit(0.0),
        lambda acc, c: acc + p(c) * F.log(p(c)))
    return d.select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_words"),
        F.size("cs").cast("bigint").alias("n_types"),
        F.round(ent, 4).alias("word_entropy"),
        F.round(F.size("cs").cast("double") / F.col("n").cast("double"), 4)
         .alias("type_token_ratio"))


SQL_ENTROPY = """
WITH t AS (
  SELECT doc_id,
         list_sort(list_filter(string_split(lower(text), ' '),
                               w -> w <> '')) AS st
  FROM documents),
r AS (
  SELECT doc_id, len(st) AS n,
         list_filter(generate_series(1, len(st)),
                     i -> st[i] <> coalesce(st[i + 1], '')) AS ends
  FROM t WHERE len(st) > 0),
c AS (
  SELECT doc_id, n,
         list_transform(generate_series(1, len(ends)),
                        j -> CASE WHEN j = 1 THEN ends[1]
                                  ELSE ends[j] - ends[j - 1] END) AS cs
  FROM r)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_words,
       CAST(len(cs) AS BIGINT) AS n_types,
       round(-list_reduce(list_transform(cs,
                 c -> (CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                    * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))),
             (x, y) -> x + y), 4) AS word_entropy,
       round(CAST(len(cs) AS DOUBLE) / CAST(n AS DOUBLE), 4)
         AS type_token_ratio
FROM c
"""


# -- BM25 retrieval over an inverted index ------------------------------------
#
# Okapi BM25 (Robertson et al., TREC-3) as a dataflow — the textual twin
# of the ann_*_topk family, and the retrieval primitive a corpus build
# uses for decontamination sweeps and targeted-source mining.  The shape
# IS the search engine's: `tf` is the inverted index (postings sharded by
# word — ONE corpus shuffle builds it, and a sink would persist it), the
# query side is a handful of term rows joined to the vocab-sized df table
# (equi on word, never broadcast — vocab can exceed 10^9 rows, same rule
# as ta_lm_xent), and scoring probes postings by word, so per-term work is
# bounded by posting-list length, never the corpus.  The per-(query, doc)
# score is an exact-order fold over the VALUE-sorted term scores (equal
# doubles commute, so no string rides the shuffle) — bit-identical in
# DuckDB — and the final top-k is a per-query bounded window.
# At 10^12 docs the one addition is the hot-term stoplist already modeled
# in dedup_ngram_jaccard (drop postings longer than a cap); the fixture's
# 31-word vocab makes every term "hot" and the operator still bounds work
# by construction.

BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY_MOD = 499  # doc_id % 499 == 0 -> query documents
BM25_TOP_K = 5


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k BM25 matches per query document (its distinct words are the
    query terms).  idf = ln(1 + (N - df + 0.5)/(df + 0.5)); ties break
    score DESC, doc_id ASC."""
    from .dedup import _pin
    d = _docs(spark, sf_dir).filter(F.length("text") > 0)
    # tf feeds FOUR plan branches (dl, dfreq, qt, the candidate probe) —
    # pin it so the tokenize/explode/groupBy corpus pass runs once
    tf = _pin(
        d.select("doc_id", F.explode(F.split("text", " ", -1)).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf")))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = F.broadcast(dl.agg(F.count(F.lit(1)).alias("n_docs"),
                               F.sum("dl").alias("total_dl")))
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    qt = (tf.filter(F.col("doc_id") % BM25_QUERY_MOD == 0)
          .select(F.col("doc_id").alias("query_id"), "word")
          .join(dfreq, "word"))
    cand = (tf.join(dl, "doc_id").join(qt, "word")
            .filter(F.col("doc_id") != F.col("query_id"))
            .crossJoin(stats))
    avgdl = (F.col("total_dl").cast("double")
             / F.col("n_docs").cast("double"))
    idf = F.log(F.lit(1.0) + ((F.col("n_docs") - F.col("df")) + F.lit(0.5))
                / (F.col("df") + F.lit(0.5)))
    ts = (idf * (F.col("tf") * F.lit(BM25_K1 + 1.0))
          / (F.col("tf") + F.lit(BM25_K1)
             * (F.lit(1.0 - BM25_B)
                + F.lit(BM25_B) * (F.col("dl").cast("double") / avgdl))))
    # fold order: term scores sorted by VALUE — equal doubles commute
    # exactly, so this is deterministic without carrying the word string
    # through the shuffle (same narrow-fold trick as ta_lm_xent)
    grouped = (cand.select("query_id", "doc_id", ts.alias("ts"))
               .groupBy("query_id", "doc_id")
               .agg(F.array_sort(F.collect_list("ts")).alias("terms")))
    score = F.aggregate("terms", F.lit(0.0), lambda acc, t: acc + t)
    from pyspark.sql import Window as W
    w = W.partitionBy("query_id").orderBy(F.col("score").desc(), "doc_id")
    return (grouped.select("query_id", "doc_id", score.alias("score"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= BM25_TOP_K)
            .select("query_id", F.col("rank").cast("bigint").alias("rank"),
                    "doc_id", F.round("score", 6).alias("bm25")))


SQL_BM25_TOPK = f"""
WITH toks AS (
  SELECT doc_id, u.word AS word
  FROM documents, unnest(string_split(text, ' ')) AS u(word)
  WHERE length(text) > 0 AND u.word <> ''),
tf AS (
  SELECT doc_id, word, count(*) AS tf FROM toks GROUP BY doc_id, word),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
st AS (SELECT count(*) AS n_docs, sum(dl) AS total_dl FROM dl),
dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
qt AS (
  SELECT tf.doc_id AS query_id, tf.word, dfreq.df
  FROM tf JOIN dfreq USING (word)
  WHERE tf.doc_id % {BM25_QUERY_MOD} = 0),
cand AS (
  SELECT qt.query_id, tf.doc_id, qt.word,
         ln(1.0 + ((st.n_docs - qt.df) + 0.5) / (qt.df + 0.5))
           * (tf.tf * {BM25_K1 + 1.0})
           / (tf.tf + {BM25_K1}
              * ({1.0 - BM25_B} + {BM25_B}
                 * (CAST(dl.dl AS DOUBLE)
                    / (CAST(st.total_dl AS DOUBLE)
                       / CAST(st.n_docs AS DOUBLE))))) AS ts
  FROM tf JOIN dl USING (doc_id) JOIN qt USING (word) CROSS JOIN st
  WHERE tf.doc_id <> qt.query_id),
grouped AS (
  SELECT query_id, doc_id,
         list_reduce(list_prepend(0.0, list(ts ORDER BY ts)),
                     (x, y) -> x + y) AS score
  FROM cand GROUP BY query_id, doc_id),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS rank
  FROM grouped)
SELECT query_id, rank, doc_id, round(score, 6) AS bm25
FROM ranked WHERE rank <= {BM25_TOP_K}
"""


_QUANTILES = (("p50", 0.5), ("p90", 0.9), ("p99", 0.99))


def q_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language length quantiles (p50/p90/p99 of n_chars,
    linear interpolation) through the HISTOGRAM dataflow, not
    `percentile()`: Spark's exact percentile buffers every value of a
    group in one task (fine at sf0.01, an OOM straggler when one
    language holds 10^11 documents), while groupBy(lang, n_chars) is a
    mergeable map-side-combinable shuffle whose output is bounded by the
    VALUE DOMAIN (languages × distinct lengths), not the corpus — the
    cumulative window then runs over that compact histogram.  Unbounded
    domains (exact byte lengths at web scale) get clipped/bucketed
    first; n_chars is already integral here.  Interpolated values are
    integer-quantized (floor(q*100) as BIGINT) on both engines — the
    repo's float-output discipline.  A pytest pins equality with
    percentile() itself."""
    d = _docs(spark, sf_dir)
    from pyspark.sql import Window as W
    hist = d.groupBy("lang", "n_chars").agg(F.count(F.lit(1)).alias("c"))
    h = (hist
         .withColumn("cum", F.sum("c").over(
             W.partitionBy("lang").orderBy("n_chars")
             .rowsBetween(W.unboundedPreceding, 0)))
         .withColumn("n", F.sum("c").over(W.partitionBy("lang"))))
    aggs = [F.min("n").alias("n")]
    for tag, p in _QUANTILES:
        pos = (F.col("n").cast("double") - 1) * p + 1
        lo = F.floor(pos)
        hi = F.least(F.ceil(pos).cast("long"), F.col("n"))
        aggs.append(F.min(F.when(F.col("cum") >= lo, F.col("n_chars")))
                    .alias(f"vlo_{tag}"))
        aggs.append(F.min(F.when(F.col("cum") >= hi, F.col("n_chars")))
                    .alias(f"vhi_{tag}"))
    a = h.groupBy("lang").agg(*aggs)
    cols = [F.col("lang"), F.col("n").cast("bigint").alias("n_docs")]
    for tag, p in _QUANTILES:
        pos = (F.col("n").cast("double") - 1) * p + 1
        frac = pos - F.floor(pos).cast("double")
        q = (F.col(f"vlo_{tag}")
             + (F.col(f"vhi_{tag}") - F.col(f"vlo_{tag}")) * frac)
        cols.append(F.floor(q * 100).cast("bigint").alias(tag))
    return a.select(*cols)


def _sql_length_quantiles() -> str:
    sel_a, sel_f = [], []
    for tag, p in _QUANTILES:
        pos = f"(CAST(n AS DOUBLE) - 1) * {p} + 1"
        sel_a.append(
            f"min(CASE WHEN cum >= floor({pos}) THEN n_chars END)"
            f" AS vlo_{tag}")
        sel_a.append(
            f"min(CASE WHEN cum >= least(CAST(ceil({pos}) AS BIGINT), n)"
            f" THEN n_chars END) AS vhi_{tag}")
        frac = f"({pos} - CAST(floor({pos}) AS DOUBLE))"
        sel_f.append(
            f"CAST(floor((vlo_{tag} + (vhi_{tag} - vlo_{tag}) * {frac})"
            f" * 100) AS BIGINT) AS {tag}")
    return f"""
WITH hist AS (
  SELECT lang, n_chars, count(*) AS c FROM documents GROUP BY 1, 2
),
h AS (
  SELECT lang, n_chars,
         sum(c) OVER (PARTITION BY lang ORDER BY n_chars
                      ROWS UNBOUNDED PRECEDING) AS cum,
         sum(c) OVER (PARTITION BY lang) AS n
  FROM hist
),
a AS (
  SELECT lang, min(n) AS n, {", ".join(sel_a)}
  FROM h GROUP BY lang
)
SELECT lang, CAST(n AS BIGINT) AS n_docs, {", ".join(sel_f)}
FROM a
"""


# -- HyperLogLog distinct sketch ---------------------------------------------------

# The mergeable-sketch answer to "how many distinct words per source" at
# 10^12 docs: exact count(DISTINCT) must shuffle every distinct word; the
# HLL register table is HLL_M rows per source regardless of vocabulary
# size, and max() registers merge associatively, so the whole sketch is
# one partial+final aggregation.  This is the same sketch behind Spark's
# approx_count_distinct / DuckDB's approx_distinct — re-expressed in pure
# relational algebra so BOTH engines compute the IDENTICAL sketch and the
# oracle stays bit-exact (built-in HLLs use engine-specific hashes and
# can never cross-validate).
HLL_M = 64                        # registers (power of two)
_HLL_P = HLL_M.bit_length() - 1   # bucket bits: bucket = low P hash bits
_HLL_VBITS = 60 - _HLL_P          # hash bits left for rho after the bucket
_HLL_RHO_MAX = _HLL_VBITS + 1     # rho(position of first 1) in 1..RHO_MAX
_HLL_SCALE = _HLL_RHO_MAX + 1     # term = 2^(SCALE-rho); empty register = 2^SCALE
assert HLL_M == 1 << _HLL_P and HLL_M * (1 << _HLL_SCALE) < 1 << 63
# alpha_64 * m^2, scaled by 2^_HLL_SCALE — ONE double literal, so the only
# cross-engine float op is a single IEEE division (floored, both sides)
_HLL_C = (0.7213 / (1.0 + 1.079 / HLL_M)) * HLL_M * HLL_M * float(2 ** _HLL_SCALE)


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinct-word estimate via a from-scratch HyperLogLog
    (Flajolet et al. 2007): 60-bit md5 hash -> low 6 bits pick 1 of 64
    registers, rho = 1 + leading zeros of the remaining 54 bits, register
    = max(rho).  The harmonic-mean mass is kept as an exact integer
    (sum of 2^(56-rho), empty registers contribute 2^56 — max 64*2^56 <
    2^63) so partial-agg order can't perturb it; the raw estimate is one
    floored double division by the precomputed alpha*m^2 constant.
    n_exact (the count-DISTINCT the sketch replaces) ships as the
    fixture-scale accuracy canary — production drops it.  Scale shape:
    explode is narrow, registers are a mergeable (source, bucket) max —
    map-side partials shrink each task's contribution to <= 64 rows per
    source before the shuffle."""
    from ..functions.hashing import md5_u60

    words = (_docs(spark, sf_dir)
             .select("source", F.explode(F.split("text", " ", -1)).alias("word")))
    hashed = words.select("source", md5_u60(F.col("word")).alias("u"))
    regs = (hashed
            .select("source", F.expr(f"u & {HLL_M - 1}").alias("bucket"),
                    F.expr(f"CASE WHEN (u >> {_HLL_P}) = 0 THEN {_HLL_RHO_MAX} "
                           f"ELSE {_HLL_RHO_MAX} - length(conv(u >> {_HLL_P}, 10, 2)) "
                           f"END").alias("rho"))
            .groupBy("source", "bucket").agg(F.max("rho").alias("m_j")))
    empty_term = 1 << _HLL_SCALE
    sk = regs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hit"),
        (F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), "
                      f"CAST({_HLL_SCALE} - m_j AS INT))"))
         + (F.lit(HLL_M) - F.count(F.lit(1))) * F.lit(empty_term))
        .cast("bigint").alias("s_scaled"))
    exact = (words.distinct().groupBy("source")
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_exact")))
    return (sk.join(exact, "source")
            .select("source", "n_exact", "n_hit", "s_scaled",
                    F.floor(F.lit(_HLL_C) / F.col("s_scaled"))
                     .cast("bigint").alias("hll_est")))


SQL_HLL_DISTINCT = f"""
WITH words AS (
  SELECT source, unnest(string_split(text, ' ')) AS word FROM documents),
hashed AS (
  SELECT source, ('0x' || substr(md5(word), 1, 15))::BIGINT AS u FROM words),
regs AS (
  SELECT source, u & {HLL_M - 1} AS bucket,
         max(CASE WHEN (u >> {_HLL_P}) = 0 THEN {_HLL_RHO_MAX}
                  ELSE {_HLL_RHO_MAX} - length(bin(u >> {_HLL_P})) END) AS m_j
  FROM hashed GROUP BY source, u & {HLL_M - 1}),
sk AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_hit,
         CAST(sum(1::BIGINT << CAST({_HLL_SCALE} - m_j AS INT))
              + ({HLL_M} - count(*)) * (1::BIGINT << {_HLL_SCALE})
              AS BIGINT) AS s_scaled
  FROM regs GROUP BY source),
exact AS (
  SELECT source, CAST(count(DISTINCT word) AS BIGINT) AS n_exact
  FROM words GROUP BY source)
SELECT sk.source, exact.n_exact, sk.n_hit, sk.s_scaled,
       CAST(floor({_HLL_C!r} / sk.s_scaled) AS BIGINT) AS hll_est
FROM sk JOIN exact USING (source)
"""


# -- Count-Min frequency sketch + heavy hitters --------------------------------------

# The frequency twin of the HLL sketch above: exact per-word counts at a
# 10^9+ vocabulary need a full (word) shuffle and a vocab-sized result;
# the CMS table is D*W counters regardless of vocabulary, counters are
# plain sums (mergeable, map-side partials), and the point estimate
# min_d(cms[d][h_d(w)]) NEVER undercounts — the guarantee heavy-hitter
# extraction relies on.  Same cross-validation rationale as the HLL: both
# engines compute the identical sketch, so the oracle is bit-exact.
CMS_D = 4     # hash rows (double hashing h1 + d*h2)
CMS_W = 512   # counters per row


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide word frequencies through a from-scratch Count-Min
    sketch (Cormode & Muthukrishnan 2005), read back for every distinct
    word alongside the exact count it replaces: cms_est = min over the
    D rows of the hashed counter, overcount = cms_est - n_exact >= 0 by
    construction.  Scale shape: the sketch build is one groupBy over
    (row, col) — 2048 cells, partial-agg friendly — and the readout
    joins the DISTINCT word list against the broadcast cell table;
    n_exact is the fixture-scale canary a production run drops (it is
    the very shuffle the sketch avoids)."""
    from ..functions.hashing import md5_h1_h2

    words = (_docs(spark, sf_dir)
             .select(F.explode(F.split("text", " ", -1)).alias("word")))
    h1, h2 = md5_h1_h2(F.col("word"))
    hashed = words.select("word", h1.alias("h1"), h2.alias("h2"))
    cells = hashed.select("word", F.explode(F.array(*[
        F.struct(F.lit(d).alias("d"),
                 ((F.col("h1") + F.lit(d) * F.col("h2")) % CMS_W).alias("col"))
        for d in range(CMS_D)])).alias("c"))
    cms = (cells.groupBy("c.d", "c.col")
           .agg(F.count(F.lit(1)).cast("bigint").alias("counter")))
    exact = (hashed.groupBy("word", "h1", "h2")
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_exact")))
    probes = exact.select("word", "n_exact", F.explode(F.array(*[
        F.struct(F.lit(d).alias("d"),
                 ((F.col("h1") + F.lit(d) * F.col("h2")) % CMS_W).alias("col"))
        for d in range(CMS_D)])).alias("c"))
    return (probes.join(F.broadcast(cms),
                        (probes["c.d"] == cms["d"])
                        & (probes["c.col"] == cms["col"]))
            .groupBy("word", "n_exact")
            .agg(F.min("counter").alias("cms_est"))
            .select("word", "n_exact", "cms_est",
                    (F.col("cms_est") - F.col("n_exact")).alias("overcount")))


SQL_CMS_HEAVY_HITTERS = f"""
WITH words AS (
  SELECT unnest(string_split(text, ' ')) AS word FROM documents),
hashed AS (
  SELECT word,
         ('0x' || substr(md5(word), 1, 15))::BIGINT AS h1,
         ('0x' || substr(md5(word), 16, 15))::BIGINT AS h2
  FROM words),
cells AS (
  SELECT g.d, (h1 + g.d * h2) % {CMS_W} AS col
  FROM hashed, (VALUES (0), (1), (2), (3)) g(d)),
cms AS (
  SELECT d, col, CAST(count(*) AS BIGINT) AS counter
  FROM cells GROUP BY d, col),
exact AS (
  SELECT word, h1, h2, CAST(count(*) AS BIGINT) AS n_exact
  FROM hashed GROUP BY word, h1, h2),
probes AS (
  SELECT e.word, e.n_exact, g.d, (e.h1 + g.d * e.h2) % {CMS_W} AS col
  FROM exact e, (VALUES (0), (1), (2), (3)) g(d))
SELECT p.word, p.n_exact, min(c.counter) AS cms_est,
       min(c.counter) - p.n_exact AS overcount
FROM probes p JOIN cms c ON c.d = p.d AND c.col = p.col
GROUP BY p.word, p.n_exact
"""


# -- collocation mining (PMI / tokenizer-merge candidate scoring) -------------------
#
# Pointwise mutual information over adjacent word pairs — the statistic
# BPE/WordPiece merge selection maximizes and the classic phrase-mining
# signal (word2vec's phrase pass, Mikolov et al. 2013 §4).  Kept in EXACT
# integer arithmetic: pmi = ln(lift) is monotone in lift = c_xy*N/(c_x*c_y),
# so ranking/thresholding on the integer-quantized lift is ranking on PMI
# without ever computing a cross-engine-divergent ln().

PMI_MIN_COUNT = 5      # min bigram support (drop the noise tail)
PMI_LIFT_Q = 1000      # lift quantization: floor(lift * 1000) as BIGINT


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide PMI-ranked collocations over adjacent word bigrams.

    Dataflow (scale shape): bigram generation is map-only (adjacent pairs
    of the per-doc split array); bigram and unigram counts are the two
    mergeable hash shuffles; N is a 1-row broadcast; the two unigram
    lookups are plain equi-joins on word — vocab-sized at web scale (same
    never-broadcast rule as ta_lm_xent/ta_bm25), AQE broadcasts when the
    fixture vocab actually fits.

    Exactness: lift numerator c_xy*N*1000 and denominator c_x*c_y stay in
    BIGINT (bound: N <= 3e6 words before the x1000 product overflows —
    fixture-safe by 10x; at 10^12 tokens the quantized column switches to
    the (num, den) pair or log-space doubles, documented tradeoff), and
    the quotient is integer division — positive operands, so Spark DIV and
    DuckDB // agree exactly.

    Output: one row per bigram with support >= PMI_MIN_COUNT — the counts
    and the quantized lift (lift > 1000 <=> PMI > 0)."""
    d = (_docs(spark, sf_dir)
         .filter(F.col("text").isNotNull())
         .select(F.split("text", " ", -1).alias("ws")))
    words = d.select(F.explode("ws").alias("word"))
    uni = words.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    bg = (d.filter(F.size("ws") >= 2)
          .select(F.explode(F.expr(
              "transform(sequence(0, size(ws) - 2),"
              " i -> struct(ws[i] AS w1, ws[i+1] AS w2))")).alias("b"))
          .select("b.w1", "b.w2"))
    bgc = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_xy"))
    n = F.broadcast(bgc.agg(F.sum("c_xy").alias("n_big")))
    return (bgc.filter(F.col("c_xy") >= PMI_MIN_COUNT)
            .crossJoin(n)
            .join(uni.select(F.col("word").alias("w1"),
                             F.col("c").alias("c_x")), "w1")
            .join(uni.select(F.col("word").alias("w2"),
                             F.col("c").alias("c_y")), "w2")
            .select("w1", "w2", "c_xy", "c_x", "c_y",
                    F.expr(f"(c_xy * n_big * {PMI_LIFT_Q}L)"
                           " div (c_x * c_y)").alias("lift_q")))


SQL_PMI_COLLOCATIONS = f"""
WITH w AS (
  SELECT string_split(text, ' ') AS ws
  FROM documents WHERE text IS NOT NULL
),
uni AS (
  SELECT word, count(*) AS c
  FROM (SELECT unnest(ws) AS word FROM w) GROUP BY word
),
bg AS (
  SELECT ws[i + 1] AS w1, ws[i + 2] AS w2
  FROM w, unnest(generate_series(0, len(ws) - 2)) AS t(i)
  WHERE len(ws) >= 2
),
bgc AS (SELECT w1, w2, count(*) AS c_xy FROM bg GROUP BY w1, w2),
n AS (SELECT sum(c_xy) AS n_big FROM bgc)
SELECT w1, w2, c_xy, u1.c AS c_x, u2.c AS c_y,
       CAST((c_xy * n_big * {PMI_LIFT_Q}) // (u1.c * u2.c) AS BIGINT) AS lift_q
FROM bgc, n
JOIN uni u1 ON bgc.w1 = u1.word
JOIN uni u2 ON bgc.w2 = u2.word
WHERE c_xy >= {PMI_MIN_COUNT}
"""


# -- BPE merge training (Sennrich et al. 2016) ---------------------------------------
#
# The tokenizer-training primitive an LLM corpus pipeline runs before
# anything else: greedy byte-pair-encoding merge selection over the word
# vocabulary.  Canonical BPE trains on the (word, count) table — ONE corpus
# shuffle up front, then every round is linear in the VOCABULARY, never the
# corpus.  Each round: count adjacent symbol pairs weighted by word count
# (tiny mergeable shuffle — the pair alphabet is chars+merges), elect the
# max-count pair (min-pair-string tie-break, so both engines agree), and
# rewrite every vocabulary sequence map-side.  The rewrite uses the
# doubled-space trick so plain left-to-right non-overlapping replace()
# (identical semantics in Spark and DuckDB) implements exact greedy BPE:
# ' a  b ' patterns can never match across token boundaries, and
# overlapping runs ('a a a' under merge a+a) resolve leftmost-first.

BPE_ROUNDS = 3  # unrolled like dedup_pagerank — each round's winner is a
                # 1-row broadcast, so the oracle is a finite CTE chain


def _bpe_vocab0(spark: SparkSession, sf_dir: str) -> DataFrame:
    words = (_docs(spark, sf_dir)
             .filter(F.col("text").isNotNull())
             .select(F.explode(F.split("text", " ", -1)).alias("word"))
             .filter(F.col("word") != "")
             .groupBy("word").agg(F.count(F.lit(1)).alias("cnt")))
    # symbol sequence = space-joined single chars (ASCII fixture lexicon;
    # real corpora byte-fall-back first)
    return words.select(
        F.trim(F.regexp_replace("word", "(.)", "$1 ")).alias("seq"), "cnt")


def _bpe_round(vocab: DataFrame) -> tuple[DataFrame, DataFrame]:
    """One BPE round over a (seq, cnt) vocabulary: returns (winner — one
    row (pr, c) —, merged vocabulary)."""
    pairs = (vocab.select(F.split("seq", " ", -1).alias("a"), "cnt")
             .filter(F.size("a") >= 2)
             .select(F.explode(F.expr(
                 "transform(sequence(0, size(a) - 2),"
                 " i -> struct(a[i] AS w1, a[i+1] AS w2))")).alias("b"),
                 "cnt")
             .groupBy("b.w1", "b.w2").agg(F.sum("cnt").alias("c")))
    mx = pairs.agg(F.max("c").alias("mc"))
    win = (pairs.crossJoin(F.broadcast(mx))
           .filter(F.col("c") == F.col("mc"))
           .agg(F.min(F.concat_ws(" ", "w1", "w2")).alias("pr"),
                F.max("c").alias("c")))
    w1 = F.split_part(F.col("pr"), F.lit(" "), F.lit(1))
    w2 = F.split_part(F.col("pr"), F.lit(" "), F.lit(2))
    padded = F.concat(F.lit(" "),
                      F.replace(F.col("seq"), F.lit(" "), F.lit("  ")),
                      F.lit(" "))
    pat = F.concat(F.lit(" "), w1, F.lit("  "), w2, F.lit(" "))
    rep = F.concat(F.lit(" "), w1, w2, F.lit(" "))
    merged = (vocab.crossJoin(F.broadcast(win))
              .select(F.trim(F.replace(F.replace(padded, pat, rep),
                                       F.lit("  "), F.lit(" "))).alias("seq"),
                      "cnt"))
    return win, merged


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy BPE merge-table training, BPE_ROUNDS rounds unrolled.

    Dataflow (scale shape): the word-count pass is the ONE corpus-sized
    shuffle; afterwards the loop state is the vocabulary (pinned via
    localCheckpoint per round so round r+1 does not recompute rounds
    0..r — same discipline as the k-means Lloyd loop in ann.py), each
    round being a tiny pair-count shuffle plus two 1-row broadcasts; the
    sequence rewrite is map-side string algebra.  At a 10^12-token corpus
    the vocabulary is ~10^8 rows — loop cost is independent of corpus
    size, which is exactly why BPE trainers operate on the vocab table.

    Output: the merge table — (round, w1, w2, merged, pair_count)."""
    from .dedup import _pin
    vocab = _pin(_bpe_vocab0(spark, sf_dir))
    winners = []
    for r in range(BPE_ROUNDS):
        win, vocab = _bpe_round(vocab)
        vocab = _pin(vocab)
        winners.append(win.select(
            F.lit(r).alias("round"),
            F.split_part("pr", F.lit(" "), F.lit(1)).alias("w1"),
            F.split_part("pr", F.lit(" "), F.lit(2)).alias("w2"),
            F.concat(F.split_part("pr", F.lit(" "), F.lit(1)),
                     F.split_part("pr", F.lit(" "), F.lit(2))).alias("merged"),
            F.col("c").alias("pair_count")))
    out = winners[0]
    for w in winners[1:]:
        out = out.unionAll(w)
    return out


def _sql_bpe_round(r: int) -> str:
    pr1 = f"split_part(win{r}.pr, ' ', 1)"
    pr2 = f"split_part(win{r}.pr, ' ', 2)"
    return f"""
p{r} AS (
  SELECT a[i + 1] AS w1, a[i + 2] AS w2, CAST(sum(cnt) AS BIGINT) AS c
  FROM (SELECT string_split(seq, ' ') AS a, cnt FROM v{r}),
       unnest(generate_series(0, len(a) - 2)) AS t(i)
  GROUP BY w1, w2
),
m{r} AS (SELECT max(c) AS mc FROM p{r}),
win{r} AS (SELECT min(w1 || ' ' || w2) AS pr, max(c) AS c
           FROM p{r}, m{r} WHERE c = mc),
v{r + 1} AS (
  SELECT trim(replace(replace(
           ' ' || replace(seq, ' ', '  ') || ' ',
           ' ' || {pr1} || '  ' || {pr2} || ' ',
           ' ' || {pr1} || {pr2} || ' '),
         '  ', ' ')) AS seq, cnt
  FROM v{r}, win{r}
)"""


def _sql_bpe_merges() -> str:
    ctes = ",".join(_sql_bpe_round(r) for r in range(BPE_ROUNDS))
    finals = " UNION ALL ".join(
        f"SELECT {r} AS round, split_part(pr, ' ', 1) AS w1,"
        f" split_part(pr, ' ', 2) AS w2,"
        f" split_part(pr, ' ', 1) || split_part(pr, ' ', 2) AS merged,"
        f" c AS pair_count FROM win{r}"
        for r in range(BPE_ROUNDS))
    return f"""
WITH words AS (
  SELECT word, count(*) AS cnt
  FROM (SELECT unnest(string_split(text, ' ')) AS word
        FROM documents WHERE text IS NOT NULL)
  WHERE word <> '' GROUP BY word
),
v0 AS (SELECT trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS seq, cnt
       FROM words),{ctes}
SELECT * FROM ({finals})
"""


# -- sentence segmentation stats ------------------------------------------------------

def q_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation + per-document sentence-length profile — the
    structural text signal quality classifiers consume alongside
    char/word counts (C4 drops docs with too few terminal-punctuated
    sentences; Gopher gates on mean sentence length).

    Scale shape: pure map-side — the terminal-punctuation split, trim,
    and length folds all run inside higher-order functions over the scan,
    zero shuffle; the split pattern is a plain character class (no
    lookbehind) so Java regex and RE2 agree exactly.  mean length ships
    floor-quantized from the exact (total, count) integer pair."""
    sents = F.filter(
        F.transform(F.split("text", "[.!?]+", -1), lambda x: F.trim(x)),
        lambda x: x != F.lit(""))
    lens = F.transform(sents, lambda x: F.length(x))
    zero = F.lit(0).cast("bigint")
    return (_docs(spark, sf_dir)
            .filter(F.col("text").isNotNull())
            .select("doc_id", sents.alias("ss"), lens.alias("ls"))
            .filter(F.size("ss") > 0)
            .select("doc_id",
                    F.size("ss").cast("bigint").alias("n_sentences"),
                    F.aggregate("ls", zero, lambda a, b: a + b)
                    .alias("total_len"),
                    F.array_max("ls").cast("bigint").alias("max_len"))
            .select("doc_id", "n_sentences", "total_len", "max_len",
                    F.floor(F.col("total_len") * F.lit(10000.0)
                            / F.col("n_sentences"))
                    .cast("bigint").alias("mean_len_q")))


SQL_SENTENCE_STATS = """
WITH s AS (
  SELECT doc_id,
         list_filter(list_transform(string_split_regex(text, '[.!?]+'),
                                    x -> trim(x)),
                     x -> x <> '') AS ss
  FROM documents WHERE text IS NOT NULL
), t AS (
  SELECT doc_id, ss, list_transform(ss, x -> length(x)) AS ls
  FROM s WHERE len(ss) > 0
), g AS (
  SELECT doc_id,
         CAST(len(ss) AS BIGINT) AS n_sentences,
         CAST(list_aggregate(ls, 'sum') AS BIGINT) AS total_len,
         CAST(list_aggregate(ls, 'max') AS BIGINT) AS max_len
  FROM t
)
SELECT doc_id, n_sentences, total_len, max_len,
       CAST(floor(total_len * 10000.0 / n_sentences) AS BIGINT)
         AS mean_len_q
FROM g
"""


# -- BPE encoding (tokenizer APPLY) ---------------------------------------------------
#
# The other half of the tokenizer loop: ta_bpe_merges trains the merge
# table; this operator applies it to the corpus and emits the per-document
# token accounting (words, symbols, post-merge tokens) a training-data
# budget is computed from.  Scale shape: training cost is vocabulary-sized
# (see q_bpe_merges); the trained BPE_ROUNDS-row merge table pivots to ONE
# row and broadcasts, and encoding is then pure map-side string algebra
# inside higher-order functions — the corpus is never shuffled at all
# (tokenization is embarrassingly parallel; this plan keeps it that way).
# The per-word rewrite chain is the same doubled-space replace trick as
# training, so Spark and DuckDB encode identically by construction.


def _bpe_chain_sql(seq_expr: str) -> str:
    """The BPE_ROUNDS-deep doubled-space replace chain over `seq_expr`,
    referencing pivoted merge columns pr0..pr{n-1}."""
    s = seq_expr
    for r in range(BPE_ROUNDS):
        w1 = f"split_part(pr{r}, ' ', 1)"
        w2 = f"split_part(pr{r}, ' ', 2)"
        s = (f"trim(replace(replace(' ' || replace({s}, ' ', '  ') || ' ',"
             f" ' ' || {w1} || '  ' || {w2} || ' ',"
             f" ' ' || {w1} || {w2} || ' '), '  ', ' '))")
    return s


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import _pin
    vocab = _pin(_bpe_vocab0(spark, sf_dir))
    merges = None
    for r in range(BPE_ROUNDS):
        win, vocab = _bpe_round(vocab)
        vocab = _pin(vocab)
        one = win.select(F.col("pr").alias(f"pr{r}"))
        merges = one if merges is None else merges.crossJoin(one)

    def encode_word(w):
        seq = F.trim(F.regexp_replace(w, "(.)", "$1 "))
        for r in range(BPE_ROUNDS):
            w1 = F.split_part(F.col(f"pr{r}"), F.lit(" "), F.lit(1))
            w2 = F.split_part(F.col(f"pr{r}"), F.lit(" "), F.lit(2))
            padded = F.concat(
                F.lit(" "), F.replace(seq, F.lit(" "), F.lit("  ")),
                F.lit(" "))
            pat = F.concat(F.lit(" "), w1, F.lit("  "), w2, F.lit(" "))
            rep = F.concat(F.lit(" "), w1, w2, F.lit(" "))
            seq = F.trim(F.replace(F.replace(padded, pat, rep),
                                   F.lit("  "), F.lit(" ")))
        return seq

    docs = (_docs(spark, sf_dir)
            .filter(F.col("text").isNotNull())
            .select("doc_id",
                    F.filter(F.split("text", " ", -1),
                             lambda w: w != F.lit("")).alias("ws"))
            .filter(F.size("ws") > 0))
    zero = F.lit(0).cast("bigint")
    return (docs.crossJoin(F.broadcast(merges))
            .select("doc_id",
                    F.size("ws").cast("bigint").alias("n_words"),
                    F.aggregate("ws", zero,
                                lambda a, w: a + F.length(w)).alias("n_syms"),
                    F.aggregate(
                        "ws", zero,
                        lambda a, w: a + F.size(
                            F.split(encode_word(w), " ", -1)))
                    .alias("n_tokens")))


def _sql_bpe_encode() -> str:
    ctes = ",".join(_sql_bpe_round(r) for r in range(BPE_ROUNDS))
    prcols = ", ".join(f"win{r}.pr AS pr{r}" for r in range(BPE_ROUNDS))
    prfrom = ", ".join(f"win{r}" for r in range(BPE_ROUNDS))
    chain = _bpe_chain_sql(
        "trim(regexp_replace(word, '(.)', '\\1 ', 'g'))")
    return f"""
WITH words AS (
  SELECT word, count(*) AS cnt
  FROM (SELECT unnest(string_split(text, ' ')) AS word
        FROM documents WHERE text IS NOT NULL)
  WHERE word <> '' GROUP BY word
),
v0 AS (SELECT trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS seq, cnt
       FROM words),{ctes},
onerow AS (SELECT {prcols} FROM {prfrom}),
dw AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '),
                                    x -> x <> '')) AS word
  FROM documents WHERE text IS NOT NULL
),
e AS (SELECT doc_id, word, {chain} AS seq FROM dw, onerow)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(length(word)) AS BIGINT) AS n_syms,
       CAST(sum(len(string_split(seq, ' '))) AS BIGINT) AS n_tokens
FROM e GROUP BY doc_id
"""


# -- tokenizer fertility by language -------------------------------------------

def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility (tokens/word) and compression
    (chars/token) under the corpus-trained BPE — the multilingual-bias
    diagnostic (a tokenizer trained on EN-heavy data fragments other
    languages into more tokens per word, inflating their training cost
    and effective context length).  Ratios ship as exact integer 1e-4
    units — no float anywhere in the plan.

    Scale shape: the per-doc encode is ta_bpe_encode's map-only stage
    (1-row merge table broadcast); lang attaches by a co-partitioned
    equi-join on doc_id; the rollup is ONE tiny mergeable groupBy(lang)
    — cardinality = languages, not docs."""
    enc = q_bpe_encode(spark, sf_dir)
    langs = _docs(spark, sf_dir).select("doc_id", "lang")
    return (enc.join(langs, "doc_id")
            .groupBy("lang")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum("n_words").cast("bigint").alias("n_words"),
                 F.sum("n_syms").cast("bigint").alias("n_chars"),
                 F.sum("n_tokens").cast("bigint").alias("n_tokens"))
            .select("lang", "n_docs", "n_words", "n_chars", "n_tokens",
                    F.expr("(n_tokens * 10000) div n_words").cast("bigint")
                    .alias("fertility_q"),
                    F.expr("(n_chars * 10000) div n_tokens").cast("bigint")
                    .alias("compression_q")))


def _sql_tokenizer_fertility() -> str:
    return f"""
SELECT d.lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(enc.n_words) AS BIGINT) AS n_words,
       CAST(sum(enc.n_syms) AS BIGINT) AS n_chars,
       CAST(sum(enc.n_tokens) AS BIGINT) AS n_tokens,
       CAST(sum(enc.n_tokens) * 10000 // sum(enc.n_words) AS BIGINT)
         AS fertility_q,
       CAST(sum(enc.n_syms) * 10000 // sum(enc.n_tokens) AS BIGINT)
         AS compression_q
FROM ({_sql_bpe_encode()}) enc
JOIN documents d USING (doc_id)
GROUP BY d.lang
"""


# -- positional phrase search --------------------------------------------------
#
# Exact-phrase retrieval over a POSITIONAL inverted index — the query
# class BM25's bag-of-words postings cannot answer, and the other half of
# what a production text index stores (Lucene keeps term positions for
# exactly this).  A decontamination sweep that must find verbatim
# benchmark sentences (not just token overlap) is this operator.
#
# Scale shape: ONE corpus shuffle builds the positional postings
# (doc_id, pos, word) sharded by word; the query table (first bigram of
# each doc_id % PHRASE_QUERY_MOD doc) is provably tiny, so the first-term
# probe is an equi-join bounded by posting-list length; adjacency is a
# postings self-equi-join on (doc_id, pos+1) — per-candidate work is
# bounded by occurrence counts, the corpus text is never rescanned, and
# nothing is O(N²).  Positions are RAW split ordinals (empty tokens hold
# their slot but never match), so a bigram across a doubled space is
# non-adjacent by definition — both engines identical by construction.
# At 10^12 docs the one addition is the hot-term stoplist already modeled
# in dedup_ngram_jaccard (cap posting-list length before the probe).

PHRASE_QUERY_MOD = 317
PHRASE_TOP_K = 5


def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k docs per query phrase (the first bigram of each query doc),
    ranked by exact-adjacency occurrence count; ties break doc_id ASC."""
    from pyspark.sql import Window as W

    from .dedup import _pin
    d = _docs(spark, sf_dir).filter(F.length("text") > 0)
    # postings feed THREE plan branches (query build, w1 probe, adjacency
    # check) — pin so the tokenize/explode corpus pass runs once
    post = _pin(
        d.select("doc_id", F.posexplode(F.split("text", " ", -1))
                 .alias("pos", "word"))
        .filter(F.col("word") != ""))
    qp = (post.filter((F.col("doc_id") % PHRASE_QUERY_MOD == 0)
                      & (F.col("pos") <= 1))
          .groupBy(F.col("doc_id").alias("query_id"))
          .agg(F.max(F.when(F.col("pos") == 0, F.col("word"))).alias("w1"),
               F.max(F.when(F.col("pos") == 1, F.col("word"))).alias("w2"))
          .filter(F.col("w1").isNotNull() & F.col("w2").isNotNull()))
    m1 = (post.join(qp, post["word"] == qp["w1"])
          .select("query_id", "doc_id", "pos", "w2"))
    p2 = post.select(F.col("doc_id").alias("doc_id2"),
                     (F.col("pos") - 1).alias("pos_prev"),
                     F.col("word").alias("word2"))
    hits = (m1.join(p2, (F.col("doc_id") == F.col("doc_id2"))
                    & (F.col("pos") == F.col("pos_prev"))
                    & (F.col("w2") == F.col("word2")))
            .filter(F.col("doc_id") != F.col("query_id"))
            .groupBy("query_id", "doc_id")
            .agg(F.count(F.lit(1)).alias("n_hits")))
    w = W.partitionBy("query_id").orderBy(F.col("n_hits").desc(), "doc_id")
    return (hits.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= PHRASE_TOP_K)
            .select("query_id", F.col("rank").cast("bigint").alias("rank"),
                    "doc_id", "n_hits"))


SQL_PHRASE_SEARCH = f"""
WITH post0 AS (
  SELECT doc_id,
         unnest(generate_series(1, len(string_split(text, ' ')))) - 1 AS pos,
         unnest(string_split(text, ' ')) AS word
  FROM documents WHERE length(text) > 0
), post AS (SELECT * FROM post0 WHERE word <> ''),
qp AS (
  SELECT doc_id AS query_id,
         max(CASE WHEN pos = 0 THEN word END) AS w1,
         max(CASE WHEN pos = 1 THEN word END) AS w2
  FROM post WHERE doc_id % {PHRASE_QUERY_MOD} = 0 AND pos <= 1
  GROUP BY doc_id
  HAVING max(CASE WHEN pos = 0 THEN word END) IS NOT NULL
     AND max(CASE WHEN pos = 1 THEN word END) IS NOT NULL
),
hits AS (
  SELECT qp.query_id, p1.doc_id, count(*) AS n_hits
  FROM post p1
  JOIN qp ON p1.word = qp.w1
  JOIN post p2 ON p2.doc_id = p1.doc_id AND p2.pos = p1.pos + 1
              AND p2.word = qp.w2
  WHERE p1.doc_id <> qp.query_id
  GROUP BY qp.query_id, p1.doc_id
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, n_hits
FROM (SELECT query_id, doc_id, n_hits,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY n_hits DESC, doc_id) AS rank
      FROM hits)
WHERE rank <= {PHRASE_TOP_K}
"""


# -- cross-source vocabulary overlap (corpus-mix diagnostics) ------------------
#
# Which sources speak the same language?  Corpus-mix design (DoReMi /
# DataComp source weighting) starts from pairwise source similarity; the
# cheapest robust signal is Jaccard overlap of the source vocabularies.


def q_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jaccard overlap of per-source vocabularies, in ppm.

    Scale shape: the (source, word) distinct set is ONE shuffle on the
    uniform composite key (partial-distinct map-side first); the pair
    intersection is a self-join of the postings sharded BY WORD — vocab
    is never broadcast (can exceed 10^9 words; the module's standing
    rule) and never collected.  Per-word pair fan-out is bounded by
    n_sources² (sources are a small dimension — ~20 here, O(100) in a
    real mix), NOT by document count, so a 10^6×-larger corpus changes
    nothing about the join's shape.  Per-source vocab sizes come from a
    mergeable groupBy; |A∪B| = |A|+|B|−|A∩B| makes the union free.
    jacc_ppm = (inter * 1e6) div union: integer end-to-end, bit-exact on
    both engines."""
    d = _docs(spark, sf_dir)
    postings = (d.select("source",
                         F.explode(F.split(F.lower("text"), " ", -1))
                         .alias("word"))
                .distinct())
    sizes = postings.groupBy("source").agg(
        F.count(F.lit(1)).alias("vocab"))
    a = postings.alias("a")
    b = postings.alias("b")
    inter = (a.join(b, (F.col("a.word") == F.col("b.word"))
                    & (F.col("a.source") < F.col("b.source")))
             .groupBy(F.col("a.source").alias("source_a"),
                      F.col("b.source").alias("source_b"))
             .agg(F.count(F.lit(1)).alias("inter")))
    sa = sizes.select(F.col("source").alias("source_a"),
                      F.col("vocab").alias("vocab_a"))
    sb = sizes.select(F.col("source").alias("source_b"),
                      F.col("vocab").alias("vocab_b"))
    return (inter.join(sa, "source_a").join(sb, "source_b")
            .select("source_a", "source_b",
                    F.col("inter").cast("bigint").alias("inter"),
                    (F.col("vocab_a") + F.col("vocab_b") - F.col("inter"))
                    .cast("bigint").alias("uni"),
                    F.expr("inter * 1000000 div "
                           "(vocab_a + vocab_b - inter)")
                    .cast("bigint").alias("jacc_ppm")))


SQL_SOURCE_VOCAB_OVERLAP = """
WITH postings AS (
  SELECT DISTINCT source, u.word
  FROM documents, unnest(string_split(lower(text), ' ')) AS u(word)
), sizes AS (
  SELECT source, count(*) AS vocab FROM postings GROUP BY source
), inter AS (
  SELECT a.source AS source_a, b.source AS source_b, count(*) AS inter
  FROM postings a JOIN postings b
    ON a.word = b.word AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT i.source_a, i.source_b,
       CAST(i.inter AS BIGINT) AS inter,
       CAST(sa.vocab + sb.vocab - i.inter AS BIGINT) AS uni,
       CAST((i.inter * 1000000) // (sa.vocab + sb.vocab - i.inter)
            AS BIGINT) AS jacc_ppm
FROM inter i
JOIN sizes sa ON i.source_a = sa.source
JOIN sizes sb ON i.source_b = sb.source
"""


# -- skip-gram training-pair generation (word2vec-style) -------------------------------

SKIPGRAM_WINDOW = 2    # symmetric context window (±2 tokens)
SKIPGRAM_MIN = 3       # min pair support in the output


def q_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(center, context, n) corpus counts of skip-gram pairs within a
    symmetric ±SKIPGRAM_WINDOW token window — the training-pair
    generation stage of word2vec/GloVe-style embedding pipelines.

    Scale shape: pair expansion is MAP-ONLY array algebra inside
    whole-stage codegen — for each offset k the per-doc token array
    yields its (w[i], w[i+k]) struct array via transform(slice(...)),
    fan-out bounded by window·|doc|, no shuffle until the count; the
    count is ONE mergeable hash groupBy on the pair.  Symmetry
    (context on either side) is the map-side swap of the same forward
    arrays, never a second pass over the corpus.  The support filter
    is applied after the aggregate (HAVING), so the shuffle moves
    partial counts, not raw pairs.  Pure integer output."""
    ws = F.split(F.lower("text"), " ", -1)
    fwd = [F.expr(
        f"transform(slice(ws, 1, greatest(size(ws) - {k}, 0)), "
        f"(w, i) -> struct(w AS a, element_at(ws, i + 1 + {k}) AS b))")
        for k in range(1, SKIPGRAM_WINDOW + 1)]
    pairs = (_docs(spark, sf_dir)
             .filter(F.col("text").isNotNull())
             .select(ws.alias("ws"))
             .select(F.explode(F.concat(*fwd)).alias("p"))
             .select(F.col("p.a").alias("a"), F.col("p.b").alias("b")))
    sym = pairs.select(F.col("a").alias("center"),
                       F.col("b").alias("context")).unionAll(
        pairs.select(F.col("b").alias("center"),
                     F.col("a").alias("context")))
    return (sym.groupBy("center", "context")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
            .filter(F.col("n") >= SKIPGRAM_MIN))


def _sql_skipgram() -> str:
    ks = range(1, SKIPGRAM_WINDOW + 1)
    arms = " || ".join(
        f"list_transform(generate_series(1, greatest(len(ws) - {k}, 0)), "
        f"i -> {{'a': ws[i], 'b': ws[i + {k}]}})" for k in ks)
    return f"""
WITH toks AS (
  SELECT string_split(lower(text), ' ') AS ws
  FROM documents WHERE text IS NOT NULL
), fwd AS (
  SELECT unnest({arms}) AS p FROM toks
), sym AS (
  SELECT p.a AS center, p.b AS context FROM fwd
  UNION ALL
  SELECT p.b AS center, p.a AS context FROM fwd
)
SELECT center, context, CAST(count(*) AS BIGINT) AS n
FROM sym GROUP BY center, context
HAVING count(*) >= {SKIPGRAM_MIN}
"""


# -- TextRank keyword extraction --------------------------------------------------------

TEXTRANK_ITERS = 3
TEXTRANK_DAMP = 0.85
TEXTRANK_K = 20


def q_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level TextRank (Mihalcea & Tarau): weighted PageRank over the
    word co-occurrence graph, top-TEXTRANK_K words — unsupervised keyword
    extraction as a composition of two operators this engine already has
    (skip-gram pair counts as the weighted edge list + the unrolled
    damped-propagation loop of dedup_pagerank).

    Scale shape per round: one equi-join on the source word (same key
    every round, edges pinned once — the pair counting never re-runs) +
    one groupBy(dest) whose incoming float sum is the repo's value-sorted
    exact-order fold, so the unrolled ANSI oracle replays it bit-exactly.
    Edge support >= SKIPGRAM_MIN prunes the hapax tail (documented
    coverage bound — the dropped mass is the long tail that cannot rank).
    Global top-k is TakeOrderedAndProject on (rank desc, word): the
    deterministic tie-break keeps the boundary stable across engines.
    Ranks integer-quantized (floor(rank*1e6))."""
    from .dedup import _pin

    edges = _pin(q_skipgram_pairs(spark, sf_dir)
                 .select(F.col("center").alias("u"),
                         F.col("context").alias("v"),
                         F.col("n").cast("double").alias("w")))
    wdeg = edges.groupBy("u").agg(F.sum("w").alias("wdeg"))
    ewd = _pin(edges.join(wdeg, "u"))
    nodes = _pin(edges.select(F.col("u").alias("word")).distinct())
    r = nodes.select("word", F.lit(1.0).alias("rank"))
    for _ in range(TEXTRANK_ITERS):
        x = (ewd.join(r, ewd["u"] == r["word"])
             .select(F.col("v").alias("word"),
                     (F.col("rank") * F.col("w") / F.col("wdeg"))
                     .alias("x")))
        s = (x.groupBy("word")
             .agg(F.aggregate(F.array_sort(F.collect_list("x")),
                              F.lit(0.0), lambda a, b: a + b).alias("s")))
        r = nodes.join(s, "word", "left").select(
            "word",
            (F.lit(0.15) + F.lit(TEXTRANK_DAMP)
             * F.coalesce("s", F.lit(0.0))).alias("rank"))
    ranked = r.select("word", F.floor(F.col("rank") * 1000000)
                      .cast("long").alias("rank_q"))
    return (ranked.orderBy(F.col("rank_q").desc(), F.col("word"))
            .limit(TEXTRANK_K))


def _sql_textrank() -> str:
    # wdeg is an integer-count sum (exact in any order); only the rank
    # propagation needs the value-sorted float fold
    its = []
    prev = "r0"
    for k in range(1, TEXTRANK_ITERS + 1):
        its.append(f"""
x{k} AS (
  SELECT e.v AS word, r.rank * e.w / d.wdeg AS x
  FROM edges e JOIN {prev} r ON e.u = r.word JOIN wdeg d ON e.u = d.u),
s{k} AS (
  SELECT word,
         list_reduce(list_prepend(0.0, list(x ORDER BY x)),
                     (a, b) -> a + b) AS s
  FROM x{k} GROUP BY word),
r{k} AS (
  SELECT n.word, 0.15 + {TEXTRANK_DAMP} * coalesce(s.s, 0.0) AS rank
  FROM nodes n LEFT JOIN s{k} s USING (word))""")
        prev = f"r{k}"
    return f"""
WITH sg AS ({_sql_skipgram()}),
edges AS (SELECT center AS u, context AS v, CAST(n AS DOUBLE) AS w FROM sg),
wdeg AS (SELECT u, sum(w) AS wdeg FROM edges GROUP BY u),
nodes AS (SELECT DISTINCT u AS word FROM edges),
r0 AS (SELECT word, 1.0 AS rank FROM nodes),{",".join(its)}
SELECT word, CAST(floor(rank * 1000000) AS BIGINT) AS rank_q
FROM r{TEXTRANK_ITERS}
ORDER BY rank_q DESC, word
LIMIT {TEXTRANK_K}
"""


# -- hashed linear classifier scoring (fastText-style quality model) ---------------
#
# Model *scoring* at 100 TB is a map-only problem when the model is a
# hashed linear scorer (fastText, DSIR-style importance models, spam/
# quality gates): each token hashes to a feature id whose weight is
# looked up and summed.  Here the weight table is itself a deterministic
# function of the feature hash (w(h) = h mod 2001 − 1000 milliweights) —
# the dataflow is identical to a broadcast weight-array lookup, but the
# oracle stays restatable in pure SQL.  The per-document fold runs INSIDE
# the tokens array (F.aggregate over split()) — zero explode, zero
# shuffle, whole-stage codegen end-to-end.

CLS_MOD = 2001
CLS_OFF = 1000


def q_hash_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document linear score over hashed token features; keep_doc is
    the sign gate a curation funnel would apply.

    Scale shape: map-only — no explode (a 10^6-token doc would fan out
    10^6 rows before re-aggregating), no shuffle, no Python.  The token
    weight reuses the shared md5 60-bit construction
    (functions/hashing.py) so the SQL mirror is bit-exact."""
    d = _docs(spark, sf_dir)
    words = F.filter(F.split(F.lower("text"), " ", -1),
                     lambda w: w != F.lit(""))

    def wt(w):
        h = F.conv(F.substring(F.md5(w), 1, 15), 16, 10).cast("bigint")
        return (h % CLS_MOD) - CLS_OFF

    score = F.aggregate(words, F.lit(0).cast("bigint"),
                        lambda acc, w: acc + wt(w))
    return d.select(
        "doc_id",
        F.size(words).cast("bigint").alias("n_tokens"),
        score.alias("score_milli"),
        (score > 0).alias("keep_doc"))


SQL_HASH_CLASSIFIER = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), w -> w != '') AS ws
  FROM documents
)
SELECT doc_id,
       CAST(len(ws) AS BIGINT) AS n_tokens,
       CAST(coalesce(list_sum(list_transform(ws,
              w -> ('0x' || substr(md5(w), 1, 15))::BIGINT % {CLS_MOD}
                   - {CLS_OFF})), 0) AS BIGINT) AS score_milli,
       coalesce(list_sum(list_transform(ws,
              w -> ('0x' || substr(md5(w), 1, 15))::BIGINT % {CLS_MOD}
                   - {CLS_OFF})), 0) > 0 AS keep_doc
FROM t
"""


# -- RAKE keyphrase extraction ---------------------------------------------------
#
# RAKE (Rose et al. 2010): candidate phrases are the maximal stopword-free
# word runs; word score = deg/freq where freq counts occurrences and deg
# sums the lengths of the phrases each occurrence sits in; a phrase scores
# the sum of its word scores.  PER-DOCUMENT statistics (the original
# algorithm — nothing global), emitted in integer basis points (deg*10000
# div freq) so both engines agree bit-for-bit.  Complements ta_textrank
# (graph centrality) with the degree/frequency heuristic that needs no
# iteration.
#
# Scale shape: everything is keyed on doc_id — the phrase segmentation
# window, the phrase/word aggregations, and the top-k are all co-partitioned
# per-document work after ONE shuffle on doc_id; no global state at all.

RAKE_TOP_K = 3
RAKE_STOPS = tuple(sorted({w for ws in STOPWORDS.values() for w in ws}))


def q_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from .dedup import _pin
    d = _docs(spark, sf_dir).filter(F.length("text") > 0)
    toks = (d.select("doc_id",
                     F.posexplode(F.split("text", " ", -1))
                     .alias("pos", "word"))
            .withColumn("is_stop",
                        F.col("word").isin(*RAKE_STOPS)
                        | (F.col("word") == "")))
    wseq = (W.partitionBy("doc_id").orderBy("pos")
            .rowsBetween(W.unboundedPreceding, W.currentRow))
    content = _pin(
        toks.withColumn("phrase_id",
                        F.sum(F.col("is_stop").cast("int")).over(wseq))
        .filter(~F.col("is_stop"))
        .select("doc_id", "phrase_id", "pos", "word"))
    phr = content.groupBy("doc_id", "phrase_id").agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_list(F.struct("pos", "word"))),
                        lambda s: s["word"]), " ").alias("phrase"),
        F.count(F.lit(1)).alias("plen"))
    occ = content.join(phr, ["doc_id", "phrase_id"])
    wstats = (occ.groupBy("doc_id", "word")
              .agg(F.count(F.lit(1)).alias("freq"),
                   F.sum("plen").alias("deg"))
              .withColumn("wscore_bp", F.expr("deg * 10000 div freq")))
    ps = (content.join(wstats, ["doc_id", "word"])
          .groupBy("doc_id", "phrase_id")
          .agg(F.sum("wscore_bp").alias("score_bp")))
    ranked = ps.join(phr, ["doc_id", "phrase_id"])
    w = W.partitionBy("doc_id").orderBy(F.col("score_bp").desc(), "phrase")
    return (ranked.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= RAKE_TOP_K)
            .select("doc_id", F.col("rank").cast("bigint").alias("rank"),
                    "phrase", F.col("score_bp").cast("bigint")
                    .alias("score_bp")))


def _sql_rake() -> str:
    stops = ", ".join(f"'{s}'" for s in RAKE_STOPS)
    return f"""
WITH toks0 AS (
  SELECT doc_id,
         unnest(generate_series(1, len(string_split(text, ' ')))) - 1 AS pos,
         unnest(string_split(text, ' ')) AS word
  FROM documents WHERE length(text) > 0),
pid AS (
  SELECT doc_id, pos, word,
         (word = '' OR word IN ({stops})) AS is_stop,
         sum(CASE WHEN word = '' OR word IN ({stops}) THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS UNBOUNDED PRECEDING) AS phrase_id
  FROM toks0),
content AS (SELECT doc_id, phrase_id, pos, word FROM pid WHERE NOT is_stop),
phr AS (
  SELECT doc_id, phrase_id,
         string_agg(word, ' ' ORDER BY pos) AS phrase,
         count(*) AS plen
  FROM content GROUP BY 1, 2),
wstats AS (
  SELECT c.doc_id, c.word, count(*) AS freq, sum(p.plen) AS deg
  FROM content c JOIN phr p USING (doc_id, phrase_id)
  GROUP BY 1, 2),
ps AS (
  SELECT c.doc_id, c.phrase_id,
         sum(w.deg * 10000 // w.freq) AS score_bp
  FROM content c JOIN wstats w ON w.doc_id = c.doc_id AND w.word = c.word
  GROUP BY 1, 2),
ranked AS (
  SELECT p.doc_id, p.phrase, ps.score_bp,
         row_number() OVER (PARTITION BY p.doc_id
                            ORDER BY ps.score_bp DESC, p.phrase) AS rank
  FROM ps JOIN phr p USING (doc_id, phrase_id))
SELECT doc_id, CAST(rank AS BIGINT) AS rank, phrase,
       CAST(score_bp AS BIGINT) AS score_bp
FROM ranked WHERE rank <= {RAKE_TOP_K}
"""


# -- mergeable histogram quantiles ---------------------------------------------
#
# The scale swap for exact percentiles: ta_length_quantiles' exact
# percentile needs a full sort per group; at 10^12 rows the production
# answer is a FIXED-BIN integer histogram — 256 ints per group regardless
# of corpus size, mergeable across partitions/executors/days (the same
# property class as ta_hll_distinct / ta_cms_heavy_hitters).  The quantile
# is then "smallest bin whose cumulative count reaches ceil(q·n)" —
# deterministic integer math, exact against the oracle by construction,
# approximate against the raw value only by bin width (documented, never
# silent).

HIST_DIV = 4      # n_chars -> bin = min(n_chars // HIST_DIV, HIST_BINS-1)
HIST_BINS = 256


def q_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source p50/p90/p99 length bins from a 256-bin histogram: one
    partial-agg groupBy builds the histogram (the ONLY corpus shuffle);
    the cumulative scan and quantile picks run on the tiny (source, bin)
    table."""
    from pyspark.sql import Window as W
    d = _docs(spark, sf_dir)
    bins = (d.groupBy(
                F.col("source"),
                F.least(F.floor(F.col("n_chars") / HIST_DIV),
                        F.lit(HIST_BINS - 1)).cast("bigint").alias("bin"))
            .agg(F.count(F.lit(1)).alias("c")))
    w = W.partitionBy("source").orderBy("bin") \
         .rowsBetween(W.unboundedPreceding, W.currentRow)
    wn = W.partitionBy("source")
    cum = (bins.withColumn("cum", F.sum("c").over(w))
           .withColumn("n", F.sum("c").over(wn)))
    pick = [F.min(F.when(F.col("cum") * 100 >= q * F.col("n"),
                         F.col("bin"))).cast("bigint").alias(f"p{q}_bin")
            for q in (50, 90, 99)]
    return (cum.groupBy("source")
            .agg(F.max("n").cast("bigint").alias("n_docs"), *pick))


SQL_HIST_QUANTILES = f"""
WITH bins AS (
  SELECT source,
         CAST(least(n_chars // {HIST_DIV}, {HIST_BINS - 1}) AS BIGINT)
           AS bin,
         count(*) AS c
  FROM documents GROUP BY 1, 2
),
cum AS (
  SELECT source, bin, c,
         sum(c) OVER (PARTITION BY source ORDER BY bin
                      ROWS UNBOUNDED PRECEDING) AS cum,
         sum(c) OVER (PARTITION BY source) AS n
  FROM bins
)
SELECT source,
       CAST(max(n) AS BIGINT) AS n_docs,
       CAST(min(CASE WHEN cum * 100 >= 50 * n THEN bin END) AS BIGINT)
         AS p50_bin,
       CAST(min(CASE WHEN cum * 100 >= 90 * n THEN bin END) AS BIGINT)
         AS p90_bin,
       CAST(min(CASE WHEN cum * 100 >= 99 * n THEN bin END) AS BIGINT)
         AS p99_bin
FROM cum GROUP BY source
"""


# -- asymmetric containment search ------------------------------------------------
#
# Containment C(A→B) = |sh(A) ∩ sh(B)| / |sh(A)| — the QUOTE/SUBSET
# detector symmetric Jaccard misses: a tweet quoted inside an article has
# tiny Jaccard but containment ≈ 1.  The denominator and intersection are
# both computed over the STOPLISTED shingle sets (shingles in more than
# CONTAIN_STOP docs are dropped on BOTH sides — the same hot-key cap
# dedup_ngram_jaccard proves), so the posting self-join fan-out is bounded
# by the stoplist, never O(N²) on boilerplate.

CONTAIN_STOP = 50      # drop shingles appearing in more docs than this
CONTAIN_T_BP = 5000    # emit pairs with containment >= 50% (basis points)


def q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import _pin, _shingles_col
    # r6: the shingle arrays feed both the document-frequency branch and
    # the stoplist join — pinned, the per-doc shingle build runs once and
    # each branch re-derives its postings by an explode of pinned arrays.
    d = _pin(_docs(spark, sf_dir).select("doc_id",
                                         _shingles_col().alias("sh")))
    post0 = d.select("doc_id", F.explode("sh").alias("s"))
    df_ = (post0.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
           .filter(F.col("df") <= CONTAIN_STOP))
    # equi-join on s keeps only sub-stoplist shingles; never broadcast —
    # the shingle vocabulary scales with the corpus (ta_bm25's rule)
    post = _pin(post0.join(df_.select("s"), "s"))
    sz = post.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_src"))
    a = post.select(F.col("doc_id").alias("d_src"), "s")
    b = post.select(F.col("doc_id").alias("d_dst"), "s")
    inter = (a.join(b, "s")
             .filter(F.col("d_src") != F.col("d_dst"))
             .groupBy("d_src", "d_dst")
             .agg(F.count(F.lit(1)).alias("inter")))
    return (inter.join(sz, inter["d_src"] == sz["doc_id"])
            .select("d_src", "d_dst", "inter",
                    F.col("n_src").cast("bigint").alias("n_src"),
                    F.expr(f"inter * 10000 div n_src").cast("bigint")
                     .alias("contain_bp"))
            .filter(F.col("contain_bp") >= CONTAIN_T_BP))


SQL_CONTAINMENT = f"""
WITH sh AS ({{shingles}}),
post0 AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
keep AS (SELECT s FROM post0 GROUP BY s HAVING count(*) <= {CONTAIN_STOP}),
post AS (SELECT p.doc_id, p.s FROM post0 p JOIN keep USING (s)),
sz AS (SELECT doc_id, count(*) AS n_src FROM post GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d_src, b.doc_id AS d_dst, count(*) AS inter
  FROM post a JOIN post b USING (s)
  WHERE a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT i.d_src, i.d_dst, i.inter,
       CAST(s.n_src AS BIGINT) AS n_src,
       CAST(i.inter * 10000 // s.n_src AS BIGINT) AS contain_bp
FROM inter i JOIN sz s ON s.doc_id = i.d_src
WHERE i.inter * 10000 // s.n_src >= {CONTAIN_T_BP}
"""


def _sql_containment() -> str:
    from .dedup import _SQL_SHINGLES
    return SQL_CONTAINMENT.format(shingles=_SQL_SHINGLES)


# -- boolean retrieval (AND / threshold-OR postings intersection) ---------------

# Lucene's BooleanQuery core: candidate docs come from an inverted-index
# probe, AND-satisfaction from counting distinct matched terms against the
# query's term count — never from rescanning text.  Queries are carved
# deterministically from the corpus (the 3 alphabetically-first distinct
# words of length >= BOOL_MIN_LEN of each doc_id % BOOL_QUERY_MOD doc), so
# the operator is self-contained like phrase_search.
#
# Scale shape: ONE corpus shuffle builds the DISTINCT (doc_id, word)
# postings; the query-term table is provably tiny (3 rows per query doc)
# and broadcasts; the intersection groupBy moves only posting rows that
# matched a query term.  At 10^12 docs the hot-term stoplist from
# dedup_ngram_jaccard caps posting-list length before the probe.

BOOL_QUERY_MOD = 317
BOOL_TERMS = 3
BOOL_MIN_LEN = 4
BOOL_MIN_MATCH = 2   # threshold-OR floor: emit docs matching >= this many


def q_boolean_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean multi-term retrieval: per (query, doc), the count of
    distinct matched terms plus the exact-AND flag (all query terms
    present).  Output bounded by BOOL_MIN_MATCH threshold."""
    from pyspark.sql import Window as W

    from .dedup import _pin
    d = _docs(spark, sf_dir).filter(F.length("text") > 0)
    post = _pin(
        d.select("doc_id", F.explode(F.split("text", " ", -1)).alias("word"))
        .filter(F.col("word") != "").distinct())
    wq = W.partitionBy("query_id").orderBy("word")
    qt = (post.filter((F.col("doc_id") % BOOL_QUERY_MOD == 0)
                      & (F.length("word") >= BOOL_MIN_LEN))
          .select(F.col("doc_id").alias("query_id"), "word")
          .withColumn("r", F.row_number().over(wq))
          .filter(F.col("r") <= BOOL_TERMS)
          .drop("r"))
    need = qt.groupBy("query_id").agg(F.count(F.lit(1)).alias("need"))
    matched = (post.join(F.broadcast(qt), "word")
               .filter(F.col("doc_id") != F.col("query_id"))
               .groupBy("query_id", "doc_id")
               .agg(F.count(F.lit(1)).alias("n_matched")))
    return (matched.join(F.broadcast(need), "query_id")
            .filter(F.col("n_matched") >= BOOL_MIN_MATCH)
            .select("query_id", "doc_id",
                    F.col("n_matched").cast("bigint").alias("n_matched"),
                    (F.col("n_matched") == F.col("need")).alias("and_match")))


SQL_BOOLEAN_SEARCH = f"""
WITH post AS (
  SELECT DISTINCT doc_id, word FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word
    FROM documents WHERE length(text) > 0
  ) WHERE word <> ''
),
qt AS (
  SELECT query_id, word FROM (
    SELECT doc_id AS query_id, word,
           row_number() OVER (PARTITION BY doc_id ORDER BY word) AS r
    FROM post
    WHERE doc_id % {BOOL_QUERY_MOD} = 0 AND length(word) >= {BOOL_MIN_LEN}
  ) WHERE r <= {BOOL_TERMS}
),
need AS (SELECT query_id, count(*) AS need FROM qt GROUP BY query_id),
matched AS (
  SELECT qt.query_id, post.doc_id, count(*) AS n_matched
  FROM post JOIN qt USING (word)
  WHERE post.doc_id <> qt.query_id
  GROUP BY qt.query_id, post.doc_id
)
SELECT m.query_id, m.doc_id,
       CAST(m.n_matched AS BIGINT) AS n_matched,
       m.n_matched = n.need AS and_match
FROM matched m JOIN need n USING (query_id)
WHERE m.n_matched >= {BOOL_MIN_MATCH}
"""


QUERIES = {
    "ta_rake_keyphrases": (q_rake_keyphrases, _sql_rake()),
    "ta_hist_quantiles": (q_hist_quantiles, SQL_HIST_QUANTILES),
    "ta_containment": (q_containment, _sql_containment()),
    "ta_boolean_search": (q_boolean_search, SQL_BOOLEAN_SEARCH),
    "ta_skipgram_pairs": (q_skipgram_pairs, _sql_skipgram()),
    "ta_hash_classifier": (q_hash_classifier, SQL_HASH_CLASSIFIER),
    "ta_textrank_keywords": (q_textrank_keywords, _sql_textrank()),
    "ta_corpus_stats": (q_corpus_stats, SQL_CORPUS_STATS),
    "ta_source_vocab_overlap": (q_source_vocab_overlap,
                                SQL_SOURCE_VOCAB_OVERLAP),
    "ta_phrase_search": (q_phrase_search, SQL_PHRASE_SEARCH),
    "ta_bpe_encode": (q_bpe_encode, _sql_bpe_encode()),
    "ta_sentence_stats": (q_sentence_stats, SQL_SENTENCE_STATS),
    "ta_pmi_collocations": (q_pmi_collocations, SQL_PMI_COLLOCATIONS),
    "ta_bpe_merges": (q_bpe_merges, _sql_bpe_merges()),
    "ta_length_quantiles": (q_length_quantiles, _sql_length_quantiles()),
    "ta_langid": (q_langid, _sql_langid()),
    "ta_quality": (q_quality, _sql_quality()),
    "ta_token_count": (q_token_count, SQL_TOKEN_COUNT),
    "ta_fingerprint": (q_fingerprint, SQL_FINGERPRINT),
    "ta_winnow": (q_winnow, SQL_WINNOW),
    "ta_repetition": (q_repetition, SQL_REPETITION),
    "ta_tfidf_topk": (q_tfidf_topk, SQL_TFIDF_TOPK),
    "ta_lm_xent": (q_lm_xent, SQL_LM_XENT),
    "ta_kneser_ney": (q_kneser_ney, SQL_KNESER_NEY),
    "ta_quality_auc": (q_quality_auc, _sql_quality_auc()),
    "ta_tokenizer_fertility": (q_tokenizer_fertility,
                               _sql_tokenizer_fertility()),
    "ta_entropy": (q_entropy, SQL_ENTROPY),
    "ta_bm25_topk": (q_bm25_topk, SQL_BM25_TOPK),
    "ta_hll_distinct": (q_hll_distinct, SQL_HLL_DISTINCT),
    "ta_cms_heavy_hitters": (q_cms_heavy_hitters, SQL_CMS_HEAVY_HITTERS),
}
