"""Corpus-curation operators — the remaining steps a training-data build
runs between extraction/dedup and tokenization: benchmark decontamination,
deterministic stratified sampling (mixture control), and sequence packing.

Spark-first scale notes:

* decontamination: the benchmark/eval shingle set is tiny relative to the
  corpus (thousands of eval docs vs 10^12 train docs), so it is BROADCAST
  and the train side streams through one semi-join — no shuffle of the
  corpus, map-side only.  The eval set here is carved deterministically
  from the corpus (doc_id % 101 == 0) so the operator is self-contained.
* stratified sampling: pure map-side — the per-stratum rate comes from a
  broadcast count table (strata counts are a tiny aggregate), membership
  from an integer hash test, so the sample is reproducible run-to-run and
  cluster-size-independent.  Integer cross-multiplication (u * n < MOD *
  target) avoids float-rate edge cases.
* sequence packing: running token cumsum per (source) partition, chunked
  at the token budget — the concat-then-chunk packing a trainer's data
  loader expects.  The window sorts WITHIN source partitions only; at
  10^12 docs the per-source ordering would be a range partition by
  (source, doc_id), the same plan shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ._scan import read_table
from .dedup import (
    MINHASH_P,
    N_BANDS,
    _MINHASH_AB,
    _SQL_SHINGLES,
    _docs,
    _pin,
    _shingle_ints_col,
    _shingles_col,
)

EVAL_MOD = 101          # doc_id % EVAL_MOD == 0 -> held-out "benchmark" doc
CONTAM_T = 0.5          # flagged when >= this fraction of shingles hit
SAMPLE_MOD = 1_000_000  # hash-uniform resolution for the sampling test
PACK_BUDGET = 256       # tokens per packed training sequence


def _hash_u(col) -> "F.Column":
    """Deterministic uniform int in [0, SAMPLE_MOD): first 60 bits of
    md5(decimal string), mod SAMPLE_MOD — byte-identical to the DuckDB
    ('0x' || substr(md5(x),1,15))::BIGINT % MOD form."""
    return (F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10)
            .cast("bigint") % SAMPLE_MOD)


# -- benchmark decontamination ----------------------------------------------------

def q_cur_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag training documents whose 3-word shingles overlap the held-out
    eval set: contaminated_frac = |doc shingles ∩ eval shingles| / |doc
    shingles|, flagged at CONTAM_T.  Eval shingle set broadcast; train
    side is one explode + semi-join + count — no corpus shuffle."""
    sh = (_docs(spark, sf_dir)
          .select("doc_id", _shingles_col().alias("shingles"))
          .filter(F.size("shingles") > 0))
    eval_sh = (sh.filter(F.col("doc_id") % EVAL_MOD == 0)
               .select(F.explode("shingles").alias("shingle")).distinct())
    train = sh.filter(F.col("doc_id") % EVAL_MOD != 0)
    hits = (train.select("doc_id", F.explode("shingles").alias("shingle"))
            .join(F.broadcast(eval_sh), "shingle", "leftsemi")
            .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_hit")))
    frac = F.coalesce(F.col("n_hit"), F.lit(0)).cast("double") \
        / F.size("shingles").cast("double")
    return (train.join(hits, "doc_id", "left")
            .select("doc_id",
                    F.size("shingles").cast("bigint").alias("n_shingles"),
                    F.coalesce("n_hit", F.lit(0)).cast("bigint").alias("n_hit"),
                    F.round(frac, 4).alias("contaminated_frac"),
                    (frac >= CONTAM_T).alias("contaminated")))


SQL_CUR_DECONTAMINATE = f"""
WITH sh AS ({_SQL_SHINGLES}),
ne AS (SELECT doc_id, shingles FROM sh WHERE len(shingles) > 0),
eval_sh AS (
  SELECT DISTINCT unnest(shingles) AS shingle FROM ne
  WHERE doc_id % {EVAL_MOD} = 0),
train AS (SELECT * FROM ne WHERE doc_id % {EVAL_MOD} <> 0),
ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM train),
hits AS (
  SELECT doc_id, count(*) AS n_hit FROM ex
  WHERE shingle IN (SELECT shingle FROM eval_sh)
  GROUP BY doc_id)
SELECT t.doc_id,
       CAST(len(t.shingles) AS BIGINT) AS n_shingles,
       CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
       round(CAST(coalesce(h.n_hit, 0) AS DOUBLE) / len(t.shingles), 4)
         AS contaminated_frac,
       CAST(coalesce(h.n_hit, 0) AS DOUBLE) / len(t.shingles)
         >= {CONTAM_T} AS contaminated
FROM train t LEFT JOIN hits h USING (doc_id)
"""


# -- fuzzy (near-duplicate) decontamination ------------------------------------------

def _screen_sigs_col():
    """r=1 LSH band signatures (one minhash per band, same _MINHASH_AB
    family as dedup's r=2 bands): per-band collision probability equals
    the Jaccard similarity s itself, so N_BANDS single-hash bands flag a
    pair with probability 1-(1-s)^N — the HIGH-RECALL operating point a
    contamination screen wants (an over-flagged train doc is cheap; a
    leaked eval doc is not), vs dedup_minhash_lsh's precision-leaning
    s^r bands.  Narrow build, no shuffle."""
    def mh(k: int):
        a, b = _MINHASH_AB[k]
        return F.array_min(F.transform(
            F.col("xs"), lambda x: (F.lit(a) * x + F.lit(b)) % MINHASH_P))
    return F.array(*[F.struct(F.lit(b).alias("band"), mh(b).alias("mh"))
                     for b in range(N_BANDS)])


def q_cur_fuzzy_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag training documents that are NEAR-duplicates of any held-out
    eval doc — the paraphrase-contamination case exact shingle overlap
    (cur_decontaminate) misses and GPT-3/PaLM-style 13-gram filters only
    partially catch.  A train doc is contaminated when it shares >= 1
    single-minhash band with any eval doc (see _screen_sigs_col for the
    recall-first band design).

    Dataflow (scale shape): band signatures build NARROWLY per doc (no
    explode shuffle); the eval side collapses to its DISTINCT (band, mh)
    set — N_BANDS rows per eval doc, ~10^6 rows for a full benchmark
    suite — and is explicitly broadcast (vs the corpus-sized train side;
    when eval suites outgrow broadcast, the Bloom route of
    cur_bloom_decontaminate applies to band signatures verbatim); the
    per-doc band-hit count is map-side distinct over <= N_BANDS elements,
    no corpus shuffle at all.

    Output: one row per nonempty train doc — n_bands_hit in [0, N_BANDS]
    and the contamination flag (>= 1 band collision)."""
    sh = (_docs(spark, sf_dir)
          .select("doc_id", _shingles_col().alias("shingles"))
          .filter(F.size("shingles") > 0))
    # r6: the signature table feeds THREE consumers (the eval distinct,
    # the train band explode, and the final train left-join) — unpinned,
    # the shingle + md5 + band-minhash build ran three times per query.
    sigs = _pin(sh.withColumn("xs", _shingle_ints_col())
                .select("doc_id", _screen_sigs_col().alias("sigs")))
    eval_sigs = (sigs.filter(F.col("doc_id") % EVAL_MOD == 0)
                 .select(F.explode("sigs").alias("bs"))
                 .select("bs.band", "bs.mh").distinct())
    train = sigs.filter(F.col("doc_id") % EVAL_MOD != 0)
    hits = (train.select("doc_id", F.explode("sigs").alias("bs"))
            .select("doc_id", "bs.band", "bs.mh")
            .join(F.broadcast(eval_sigs), ["band", "mh"], "leftsemi")
            .groupBy("doc_id")
            .agg(F.count_distinct("band").alias("n_bands_hit")))
    n_hit = F.coalesce("n_bands_hit", F.lit(0)).cast("bigint")
    return (train.join(hits, "doc_id", "left")
            .select("doc_id",
                    n_hit.alias("n_bands_hit"),
                    (n_hit >= 1).alias("contaminated")))


SQL_CUR_FUZZY_DECONTAMINATE = f"""
WITH sh AS ({_SQL_SHINGLES}),
nonempty AS (
  SELECT doc_id, shingles,
         list_transform(shingles,
           s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % {MINHASH_P}) AS xs
  FROM sh WHERE len(shingles) > 0),
sig AS (
  SELECT doc_id, b.band AS band,
         CASE {' '.join(
             f"WHEN b.band = {b} THEN CAST(list_aggregate(list_transform(xs,"
             f" x -> ({_MINHASH_AB[b][0]} * x + {_MINHASH_AB[b][1]})"
             f" % {MINHASH_P}), 'min') AS BIGINT)"
             for b in range(N_BANDS))}
         END AS mh
  FROM nonempty, (SELECT unnest(generate_series(0, {N_BANDS - 1})) AS band) b
),
eval_sigs AS (
  SELECT DISTINCT band, mh FROM sig WHERE doc_id % {EVAL_MOD} = 0),
hits AS (
  SELECT s.doc_id, count(DISTINCT s.band) AS n_bands_hit
  FROM sig s JOIN eval_sigs e USING (band, mh)
  WHERE s.doc_id % {EVAL_MOD} <> 0
  GROUP BY s.doc_id)
SELECT t.doc_id,
       CAST(coalesce(h.n_bands_hit, 0) AS BIGINT) AS n_bands_hit,
       coalesce(h.n_bands_hit, 0) >= 1 AS contaminated
FROM (SELECT doc_id FROM nonempty WHERE doc_id % {EVAL_MOD} <> 0) t
LEFT JOIN hits h USING (doc_id)
"""


# -- deterministic stratified sampling ---------------------------------------------

def q_cur_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equalize the (source, lang) mixture: every stratum is downsampled
    to the size of the SMALLEST stratum by a deterministic hash test.
    keep ⇔ u(doc_id) * stratum_n < SAMPLE_MOD * target_n (exact integer
    cross-multiplication, no float rates).  The strata-count table and the
    1-row target are broadcast; the corpus itself never shuffles."""
    d = _docs(spark, sf_dir)
    counts = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("stratum_n"))
    target = counts.agg(F.min("stratum_n").alias("target_n"))
    return (d.join(F.broadcast(counts), ["source", "lang"])
            .crossJoin(F.broadcast(target))
            .withColumn("u", _hash_u(F.col("doc_id")))
            .filter(F.col("u") * F.col("stratum_n")
                    < F.lit(SAMPLE_MOD) * F.col("target_n"))
            .select("doc_id", "source", "lang", "u"))


SQL_CUR_STRATIFIED_SAMPLE = f"""
WITH counts AS (
  SELECT source, lang, count(*) AS stratum_n FROM documents
  GROUP BY source, lang),
target AS (SELECT min(stratum_n) AS target_n FROM counts),
hashed AS (
  SELECT d.doc_id, d.source, d.lang, c.stratum_n,
         ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
           % {SAMPLE_MOD} AS u
  FROM documents d JOIN counts c USING (source, lang))
SELECT doc_id, source, lang, u
FROM hashed, target
WHERE u * stratum_n < {SAMPLE_MOD} * target_n
"""


# -- sequence packing --------------------------------------------------------------

def q_cur_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk packing: documents are laid out per source in
    doc_id order and cut into PACK_BUDGET-token sequences; a document
    belongs to the sequence its first token lands in.  One window (running
    sum per source) — the same plan a range-partitioned 10^12-doc packing
    job runs."""
    d = _docs(spark, sf_dir)
    tokens = F.size(F.split("text", " ", -1)).cast("bigint")
    w = (Window.partitionBy("source").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    laid = d.select(
        "doc_id", "source", tokens.alias("tokens"),
        ((F.sum(tokens).over(w) - tokens) / PACK_BUDGET)
        .cast("bigint").alias("seq"))
    return (laid.groupBy("source", "seq").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tokens").alias("seq_tokens")))


SQL_CUR_PACK_SEQUENCES = f"""
WITH laid AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens,
         CAST(FLOOR((sum(CAST(len(string_split(text, ' ')) AS BIGINT))
                       OVER (PARTITION BY source ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     - len(string_split(text, ' '))) / {PACK_BUDGET})
              AS BIGINT) AS seq
  FROM documents)
SELECT source, seq, count(*) AS n_docs,
       CAST(sum(tokens) AS BIGINT) AS seq_tokens
FROM laid GROUP BY source, seq
"""


# -- PII redaction ----------------------------------------------------------
#
# The standard pre-training privacy pass: detect and mask emails, IPv4
# addresses and phone numbers with typed placeholder tokens.  Pure
# Catalyst (regexp_count + chained regexp_replace) — map-only, one scan,
# no shuffle, whole-stage codegen; at 10^12 docs this is the cheapest
# class of operator in the pipeline.  Patterns stay in the syntax subset
# shared by Java regex (Spark) and RE2 (DuckDB): character classes,
# bounded repetition, \b — no lookaround.
#
# The fixture corpus is synthetic prose with no PII, so the operator first
# ENRICHES each doc with deterministic doc_id-derived PII (both sides
# derive the identical string), then redacts — proving detection, masking
# and ordering (emails before IPs before phones, so an already-masked
# span is never re-matched) on content the oracle can reproduce exactly.

PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IP_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE_RE = r"\+\d{1,3}-\d{3}-\d{4}"


def q_cur_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    enriched = F.concat(
        F.col("text"),
        F.lit(" contact user"), (F.col("doc_id") % 97).cast("string"),
        F.lit("@mail-"), (F.col("doc_id") % 13).cast("string"),
        F.lit(".com from 10."), (F.col("doc_id") % 256).cast("string"),
        F.lit("."), (F.col("n_chars") % 256).cast("string"),
        F.lit(".7 call +1-555-"),
        F.lpad((F.col("doc_id") % 10_000).cast("string"), 4, "0"))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(enriched, PII_EMAIL_RE, "<EMAIL>"),
            PII_IP_RE, "<IP>"),
        PII_PHONE_RE, "<PHONE>")
    return d.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.regexp_count(enriched, F.lit(PII_EMAIL_RE)).cast("int")
         .alias("n_emails"),
        F.regexp_count(enriched, F.lit(PII_IP_RE)).cast("int")
         .alias("n_ips"),
        F.regexp_count(enriched, F.lit(PII_PHONE_RE)).cast("int")
         .alias("n_phones"),
        F.md5(F.encode(redacted, "UTF-8")).alias("redacted_hash"),
        F.substring(redacted, -60, 60).alias("redacted_tail"))


SQL_CUR_PII_REDACT = f"""
WITH enriched AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         text || ' contact user' || CAST(doc_id % 97 AS VARCHAR)
              || '@mail-' || CAST(doc_id % 13 AS VARCHAR)
              || '.com from 10.' || CAST(doc_id % 256 AS VARCHAR)
              || '.' || CAST(n_chars % 256 AS VARCHAR)
              || '.7 call +1-555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
  FROM documents
), red AS (
  SELECT doc_id, t,
         regexp_replace(regexp_replace(regexp_replace(t,
             '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
             '{PII_IP_RE}', '<IP>', 'g'),
             '{PII_PHONE_RE}', '<PHONE>', 'g') AS r
  FROM enriched
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{PII_EMAIL_RE}')) AS INTEGER) AS n_emails,
       CAST(len(regexp_extract_all(t, '{PII_IP_RE}')) AS INTEGER) AS n_ips,
       CAST(len(regexp_extract_all(t, '{PII_PHONE_RE}')) AS INTEGER) AS n_phones,
       md5(r) AS redacted_hash,
       CASE WHEN length(r) >= 60 THEN substr(r, length(r) - 59, 60)
            ELSE r END AS redacted_tail
FROM red
"""


# -- composite quality gate (Gopher-rules style) -----------------------------------

GATE_MIN_WORDS = 25        # repetition/length rules in the Gopher family,
GATE_WLEN_LO = 3.0         # thresholds tuned to the corpus so the fixture
GATE_WLEN_HI = 4.8         # exercises every rule both ways
GATE_STOP_MIN = 0.02
GATE_DUP_BIGRAM_MAX = 0.1


def _gate_metrics() -> dict:
    """The Gopher-rules metric Columns over a `text` column, shared by the
    standalone gate query and the composite corpus build: n_words, mean
    word length, stopword ratio, duplicate-bigram fraction, and the
    concatenated failed-rule ids (`reasons`; '' = passed)."""
    from .text_analysis import STOPWORDS, _count_occurrences
    words = F.split("text", " ", -1)
    n_chars = F.length("text").cast("double")
    n_words = F.size(words).cast("double")
    awl = (n_chars - (n_words - 1)) / n_words
    padded = F.concat(F.lit(" "), F.lower("text"), F.lit(" "))
    stop = sum((_count_occurrences(padded, w) for w in STOPWORDS["en"][1:]),
               _count_occurrences(padded, STOPWORDS["en"][0])).cast("double")
    stop_ratio = stop / n_words
    bigrams = F.expr(
        "transform(slice(split(text, ' '), 1, size(split(text, ' ')) - 1), "
        "(w, i) -> concat(w, ' ', element_at(split(text, ' '), i + 2)))")
    dup_bg = F.when(
        F.size(bigrams) > 0,
        1 - F.size(F.array_distinct(bigrams)).cast("double") / F.size(bigrams)
    ).otherwise(F.lit(0.0))
    fails = [
        F.when(n_words < GATE_MIN_WORDS, F.lit("min_words")),
        F.when((awl < GATE_WLEN_LO) | (awl > GATE_WLEN_HI),
               F.lit("word_len")),
        F.when(stop_ratio < GATE_STOP_MIN, F.lit("stopwords")),
        F.when(dup_bg > GATE_DUP_BIGRAM_MAX, F.lit("repetition")),
    ]
    return {"n_words": n_words, "awl": awl, "stop_ratio": stop_ratio,
            "dup_bg": dup_bg, "reasons": F.concat_ws(",", *fails)}


def q_cur_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite pass/fail quality gate — the Gopher-rules-style filter a
    corpus build applies after extraction: minimum length, mean-word-length
    band, English stopword floor, duplicate-bigram ceiling.  Entirely
    map-side narrow array math (split / array_distinct / replace-count) —
    zero shuffle at any scale; `reasons` concatenates the failed rule ids
    (concat_ws skips NULLs identically in Spark and DuckDB), so the gate is
    auditable, never a silent drop."""
    d = _docs(spark, sf_dir)
    m = _gate_metrics()
    n_words, awl = m["n_words"], m["awl"]
    stop_ratio, dup_bg, reasons = m["stop_ratio"], m["dup_bg"], m["reasons"]
    return d.select(
        "doc_id",
        n_words.cast("bigint").alias("n_words"),
        F.round(awl, 4).alias("avg_word_len"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        F.round(dup_bg, 4).alias("dup_bigram_frac"),
        (reasons == "").alias("passed"),
        reasons.alias("reasons"))


def _sql_gate_ctes() -> str:
    """The q/m/r CTE chain computing the gate metrics + `reasons` per doc —
    shared by the standalone gate oracle and the corpus-build oracle."""
    from .text_analysis import STOPWORDS, _sql_count
    padded = "(' ' || lower(text) || ' ')"
    stop = " + ".join(_sql_count(padded, w) for w in STOPWORDS["en"])
    return f"""q AS (
  SELECT doc_id,
         CAST(length(text) AS DOUBLE) AS n_chars,
         CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_words,
         string_split(text, ' ') AS ws,
         CAST({stop} AS DOUBLE) AS stop
  FROM documents
), m AS (
  SELECT doc_id, n_words,
         (n_chars - (n_words - 1)) / n_words AS awl,
         stop / n_words AS stop_ratio,
         CASE WHEN len(ws) - 1 > 0 THEN
           1 - CAST(len(list_distinct(list_transform(
                 list_slice(ws, 1, len(ws) - 1),
                 (x, i) -> x || ' ' || ws[i + 1]))) AS DOUBLE)
               / (len(ws) - 1)
         ELSE 0.0 END AS dup_bg
  FROM q
), r AS (
  SELECT doc_id, n_words, awl, stop_ratio, dup_bg,
         concat_ws(',',
           CASE WHEN n_words < {GATE_MIN_WORDS} THEN 'min_words' END,
           CASE WHEN awl < {GATE_WLEN_LO} OR awl > {GATE_WLEN_HI}
                THEN 'word_len' END,
           CASE WHEN stop_ratio < {GATE_STOP_MIN} THEN 'stopwords' END,
           CASE WHEN dup_bg > {GATE_DUP_BIGRAM_MAX} THEN 'repetition' END
         ) AS reasons
  FROM m
)"""


def _sql_quality_gate() -> str:
    return f"""
WITH {_sql_gate_ctes()}
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       round(awl, 4) AS avg_word_len,
       round(stop_ratio, 4) AS stopword_ratio,
       round(dup_bg, 4) AS dup_bigram_frac,
       reasons = '' AS passed,
       reasons
FROM r
"""


# -- composite corpus build (the full curation funnel as ONE DAG) ------------------
#
# quality gate -> benchmark-eval holdout -> exact dedup -> decontamination
# -> sequence packing, composed as a single declarative plan so Catalyst
# sees the whole funnel at once: the gate and the holdout are map-side
# predicates fused into the scan, the dedup window is one hash-shuffle on
# a uniform key, the contamination probe is a broadcast semi-join (eval
# set is tiny), and packing is one window per source.  Shuffle count for
# the whole build: 2 (content-hash window, per-source pack window) plus
# the broadcast — the per-stage operators run standalone elsewhere in this
# module; this query proves they COMPOSE without materialization barriers
# between stages.

def corpus_build(d: DataFrame, with_observations: bool = False):
    """The corpus-build funnel over any (doc_id, source, text) frame.
    Returns (result_df, observations): observations is None unless
    requested, else a dict of pyspark Observations wired at the funnel
    stage boundaries (docs_in, gate+holdout survivors, post-dedup
    keepers) — zero-extra-pass stage counters for job lineage, valued
    after one action on the result."""
    from pyspark.sql import Observation
    obs = None
    m = _gate_metrics()
    d_in = d
    if with_observations:
        obs = {"in": Observation("cur_docs_in"),
               "passed": Observation("cur_gate_passed"),
               "kept": Observation("cur_dedup_kept")}
        # observe on the gate branch ONLY: `d` also feeds the eval-shingle
        # branch below, and a CollectMetrics node shared by two plan
        # branches would count its rows once per branch
        d_in = d.observe(obs["in"], F.count(F.lit(1)).alias("n"))
    passed = (d_in.withColumn("reasons", m["reasons"])
              .filter((F.col("reasons") == "")
                      & (F.col("doc_id") % EVAL_MOD != 0))
              .select("doc_id", "source", "text"))
    if with_observations:
        passed = passed.observe(obs["passed"], F.count(F.lit(1)).alias("n"))

    # Payload-shuffle discipline: the document TEXT crosses an exchange
    # exactly once (the content-hash window below — unavoidable: electing
    # a keeper requires co-locating equal texts).  Everything the later
    # stages need — token count, shingle count, exploded shingles for the
    # contamination probe — is derived MAP-SIDE right after that shuffle,
    # so the decontamination join and the packing window move ~32-byte
    # rows, not documents.  The r3.0 formulation joined (text, shingles[])
    # on doc_id — re-shuffling ~4x the corpus bytes for a fraction that
    # only needs two ints.
    w_hash = Window.partitionBy(F.md5("text"))
    kept = (passed
            .withColumn("keeper", F.min("doc_id").over(w_hash))
            .filter(F.col("doc_id") == F.col("keeper"))
            .select("doc_id", "source", "text"))
    kept = _pin(kept)  # two consumers (narrow stats + shingle explode)

    eval_sh = (d.filter(F.col("doc_id") % EVAL_MOD == 0)
               .select(F.explode(_shingles_col()).alias("shingle"))
               .distinct())
    tokens = F.size(F.split("text", " ", -1)).cast("bigint")
    narrow = kept.select("doc_id", "source", tokens.alias("tokens"),
                         F.size(_shingles_col()).alias("n_sh"))
    if with_observations:
        # the keeper counter rides on the single-consumer narrow branch,
        # BELOW the _pin: an Observation directly under a lazy
        # localCheckpoint latches n=0 — the checkpoint's own
        # query-execution-end event carries the CollectMetrics node before
        # any task has run (empirically verified; the upstream in/passed
        # observations are unaffected because they sit deeper in the
        # checkpointed plan)
        narrow = narrow.observe(obs["kept"], F.count(F.lit(1)).alias("n"))
    hits = (kept.select("doc_id", F.explode(_shingles_col()).alias("shingle"))
            .join(F.broadcast(eval_sh), "shingle", "leftsemi")
            .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_hit")))
    frac = (F.coalesce(F.col("n_hit"), F.lit(0)).cast("double")
            / F.col("n_sh").cast("double"))
    clean = narrow.join(hits, "doc_id", "left").filter(frac < CONTAM_T)

    w_pack = (Window.partitionBy("source").orderBy("doc_id")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    result = clean.select(
        "doc_id", "source", "tokens",
        ((F.sum("tokens").over(w_pack) - F.col("tokens")) / PACK_BUDGET)
        .cast("bigint").alias("seq"))
    return result, obs


def q_cur_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per document surviving the full funnel, with its packed
    sequence assignment.  Survivors: pass the quality gate, are not
    benchmark-eval docs (doc_id % EVAL_MOD == 0 — held out of training by
    definition), are the min-doc_id keeper of their exact content hash,
    and have shingle overlap with the eval set below CONTAM_T.  Gate rule
    min_words=25 guarantees survivors have >= 23 shingles, so the
    contamination fraction is always well-defined."""
    return corpus_build(_docs(spark, sf_dir))[0]


def _sql_corpus_build() -> str:
    from .dedup import _sql_shingles
    return f"""
WITH {_sql_gate_ctes()},
passed AS (
  SELECT d.doc_id, d.source, d.text
  FROM documents d JOIN r USING (doc_id)
  WHERE r.reasons = '' AND d.doc_id % {EVAL_MOD} <> 0
),
keepers AS (
  SELECT doc_id, source, text,
         min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
  FROM passed
),
kept AS (SELECT doc_id, source, text FROM keepers WHERE doc_id = keeper),
eval_docs AS (
  SELECT doc_id, text FROM documents WHERE doc_id % {EVAL_MOD} = 0),
eval_sh AS (
  SELECT DISTINCT unnest(shingles) AS shingle
  FROM ({_sql_shingles('eval_docs')})),
ksh AS ({_sql_shingles('kept')}),
ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM ksh),
hits AS (
  SELECT doc_id, count(*) AS n_hit FROM ex
  WHERE shingle IN (SELECT shingle FROM eval_sh)
  GROUP BY doc_id),
clean AS (
  SELECT k.doc_id, k.source, k.text
  FROM kept k
  JOIN ksh s USING (doc_id)
  LEFT JOIN hits h USING (doc_id)
  WHERE CAST(coalesce(h.n_hit, 0) AS DOUBLE) / len(s.shingles) < {CONTAM_T}
),
laid AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens,
         CAST(FLOOR((sum(CAST(len(string_split(text, ' ')) AS BIGINT))
                       OVER (PARTITION BY source ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     - len(string_split(text, ' '))) / {PACK_BUDGET})
              AS BIGINT) AS seq
  FROM clean)
SELECT doc_id, source, tokens, seq FROM laid
"""


# -- DSIR importance resampling -----------------------------------------------
#
# Data Selection via Importance Resampling (Xie et al. 2023): weight each
# raw document by log p_target(x) - log p_raw(x) under cheap hashed n-gram
# models of a trusted target corpus vs the raw pool, then resample
# proportionally — the published scale recipe for "pick the web data that
# looks like the good data".  Deterministic analog: add-one-smoothed
# word-bigram models, target = the LM_REF_MOD reference slice, raw = the
# remaining pool.  Dataflow at 10^12 docs: two groupBy(gram) model
# aggregates, one shuffle equi-join of exploded train grams against both
# models (co-partitioned on gram), per-doc exact-order fold over the
# sorted (c_target, c_raw) pairs — the same discipline as ta_lm_xent, so
# the oracle is bit-identical.  Selection is a deterministic threshold on
# the mean log-ratio (the resampling dial; Gumbel top-k adds a seeded
# noise column, same plan shape).

DSIR_T = 0.0  # mean nats/bigram toward the target; >= keeps the doc


def q_cur_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text_analysis import LM_REF_MOD, _bigrams_col

    d = _docs(spark, sf_dir).select("doc_id", _bigrams_col().alias("grams"))
    is_ref = F.col("doc_id") % LM_REF_MOD == 0
    grams = d.select("doc_id", is_ref.alias("is_ref"),
                     F.explode("grams").alias("gram"))
    models = (grams.groupBy("gram")
              .agg(F.sum(F.when(F.col("is_ref"), 1).otherwise(0))
                   .alias("ct"),
                   F.sum(F.when(F.col("is_ref"), 0).otherwise(1))
                   .alias("cr")))
    stats = (models.agg(
        F.sum("ct").alias("nt"),
        F.sum(F.when(F.col("ct") > 0, 1).otherwise(0)).alias("vt"),
        F.sum("cr").alias("nr"),
        F.sum(F.when(F.col("cr") > 0, 1).otherwise(0)).alias("vr")))
    pairs = (grams.filter(~F.col("is_ref"))
             .join(models, "gram")
             .groupBy("doc_id")
             .agg(F.array_sort(
                 F.collect_list(F.struct("ct", "cr"))).alias("cs")))
    fold = F.aggregate(
        "cs", F.lit(0.0),
        lambda acc, s: acc + (F.log(s["ct"].cast("double") + F.lit(1.0))
                              - F.log(s["cr"].cast("double") + F.lit(1.0))))
    ratio = F.round(
        fold / F.size("cs").cast("double")
        - F.log((F.col("nt") + F.col("vt")).cast("double"))
        + F.log((F.col("nr") + F.col("vr")).cast("double")), 4)
    return (pairs.crossJoin(F.broadcast(stats))
            .select("doc_id",
                    F.size("cs").cast("bigint").alias("n_bigrams"),
                    ratio.alias("log_ratio"),
                    (ratio >= DSIR_T).alias("selected")))


def _sql_dsir_select() -> str:
    from .text_analysis import LM_REF_MOD

    return f"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), w -> w <> '') AS toks
  FROM documents),
g AS (
  SELECT doc_id, doc_id % {LM_REF_MOD} = 0 AS is_ref,
         list_transform(generate_series(1, len(toks) - 1),
                        i -> toks[i] || ' ' || toks[i + 1]) AS grams
  FROM t),
grams AS (SELECT doc_id, is_ref, unnest(grams) AS gram FROM g),
models AS (
  SELECT gram,
         sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS ct,
         sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS cr
  FROM grams GROUP BY gram),
stats AS (
  SELECT sum(ct) AS nt,
         sum(CASE WHEN ct > 0 THEN 1 ELSE 0 END) AS vt,
         sum(cr) AS nr,
         sum(CASE WHEN cr > 0 THEN 1 ELSE 0 END) AS vr
  FROM models),
pairs AS (
  SELECT gr.doc_id,
         list({{'ct': m.ct, 'cr': m.cr}} ORDER BY m.ct, m.cr) AS cs
  FROM grams gr JOIN models m USING (gram)
  WHERE NOT gr.is_ref
  GROUP BY gr.doc_id),
scored AS (
  SELECT doc_id, cs,
         round(list_reduce(list_transform(cs,
                   s -> ln(CAST(s.ct AS DOUBLE) + 1.0)
                      - ln(CAST(s.cr AS DOUBLE) + 1.0)), (x, y) -> x + y)
                 / CAST(len(cs) AS DOUBLE)
               - ln(CAST(nt + vt AS DOUBLE))
               + ln(CAST(nr + vr AS DOUBLE)), 4) AS log_ratio
  FROM pairs CROSS JOIN stats)
SELECT doc_id,
       CAST(len(cs) AS BIGINT) AS n_bigrams,
       log_ratio,
       log_ratio >= {DSIR_T} AS selected
FROM scored
"""


# -- deterministic global shuffle + shard layout (the training exporter) ------
#
# The last step of every corpus build: a global pseudo-random shuffle of
# the curated documents and a split into fixed shards with a stable
# within-shard order and per-document token offsets — exactly what a
# trainer's data loader consumes.  Randomness is the md5 hash of doc_id
# (seedable by salting the hashed string), so the layout is reproducible
# run-to-run and cluster-size-independent: no rand(), no RDD shuffle.
#
# Scale shape: ONE hash shuffle.  shard = h % N_SHARDS is the partition
# key; the rank/offset windows partition by shard, so Spark plans a
# single exchange on shard and sorts within partitions — at 10^12 docs
# the same plan with N_SHARDS ~ 10^5 keeps every sort task bounded
# (shard count is the parallelism dial, the dataflow is unchanged).

N_SHARDS = 8


def shard_layout(docs: DataFrame, n_shards: int = N_SHARDS) -> DataFrame:
    """(shard, pos, doc_id, tokens, token_offset) for any (doc_id, text)
    frame — shared by the driver query and the writer job."""
    d = docs.select(
        "doc_id",
        F.size(F.split("text", " ", -1)).cast("bigint").alias("tokens"),
        _hash_u(F.col("doc_id")).alias("h"))
    d = d.withColumn("shard", (F.col("h") % n_shards).cast("bigint"))
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    woff = w.rowsBetween(Window.unboundedPreceding, -1)
    return d.select(
        "shard",
        F.row_number().over(w).cast("bigint").alias("pos"),
        "doc_id", "tokens",
        F.coalesce(F.sum("tokens").over(woff), F.lit(0))
         .cast("bigint").alias("token_offset"))


def q_cur_shard_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shard_layout(_docs(spark, sf_dir))


SQL_CUR_SHARD_EXPORT = f"""
WITH d AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
           % {SAMPLE_MOD} AS h
  FROM documents)
SELECT CAST(h % {N_SHARDS} AS BIGINT) AS shard,
       CAST(row_number() OVER (PARTITION BY h % {N_SHARDS}
                               ORDER BY h, doc_id) AS BIGINT) AS pos,
       doc_id, tokens,
       CAST(coalesce(sum(tokens) OVER (
              PARTITION BY h % {N_SHARDS} ORDER BY h, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
            0) AS BIGINT) AS token_offset
FROM d
"""


# -- Z-order (Morton) multi-dimensional layout ---------------------------------
#
# Z-ORDER clustering — the lakehouse layout move (Delta OPTIMIZE ZORDER
# BY, Iceberg sort-order z-curves) that the repo's 1-D clustered write
# (icelite.append(cluster_by=...)) cannot express: interleaving the bits
# of TWO predicate dimensions puts rows that are close in BOTH dimensions
# into the same file, so file-level min/max stats prune scans for
# predicates on EITHER dimension.  Here the curve runs over (lang,
# n_chars-bucket): lang is quantized to 2 bits scaled into an 8-bit lane,
# length to 8 bits, and the 16-bit Morton key's top 6 bits are the file
# bucket (32 reachable: 2 lang bits x 3 length bits; one interleave bit
# is constant) — every bucket is a RECTANGLE in (lang, length) space (one lang,
# length range <= 64 chars wide; pinned by test_zorder_buckets_are_
# rectangles), which is exactly the data-skipping guarantee.  Pure
# integer bit arithmetic, map-only, zero shuffle at any corpus size; the
# write path reuses the existing clustered append with zkey as the
# cluster key (the curve linearizes 2-D locality into the 1-D sort the
# writer already preserves).

ZORDER_LANGS = ["en", "fr", "de", "es"]
ZORDER_LEN_DIV = 2      # n_chars -> 8-bit bucket: floor(n_chars/2), cap 255
ZORDER_BUCKET_SHIFT = 10  # zbucket = zkey >> 10: 6 bits, 32 reachable
# (the odd lane's bit 11 pairs with b_l8 bit 5, constant 0 — lang only
# occupies bits 6-7 of its 8-bit lane)


def _zorder_exprs(dialect: str) -> str:
    """The interleave sum, generated once so both engines share identical
    structure: zkey bit 2i = length bit i, bit 2i+1 = scaled-lang bit i."""
    if dialect == "spark":
        even = [f"shiftleft((shiftright(b_len, {i}) & 1), {2 * i})"
                for i in range(8)]
        odd = [f"shiftleft((shiftright(b_l8, {i}) & 1), {2 * i + 1})"
               for i in range(8)]
    else:
        even = [f"(((b_len >> {i}) & 1) << {2 * i})" for i in range(8)]
        odd = [f"(((b_l8 >> {i}) & 1) << {2 * i + 1})" for i in range(8)]
    return " + ".join(even + odd)


def q_cur_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    lang_ix = F.when(F.col("lang") == "en", F.lit(0))
    for i, lg in enumerate(ZORDER_LANGS[1:], start=1):
        lang_ix = lang_ix.when(F.col("lang") == lg, F.lit(i))
    lang_ix = lang_ix.otherwise(F.lit(3))
    d = (_docs(spark, sf_dir)
         .select("doc_id",
                 F.least(F.floor(F.col("n_chars") / ZORDER_LEN_DIV),
                         F.lit(255)).cast("bigint").alias("b_len"),
                 lang_ix.cast("bigint").alias("b_lang")))
    d = d.withColumn("b_l8", F.shiftleft(F.col("b_lang"), 6))
    return (d.withColumn("zkey", F.expr(_zorder_exprs("spark")))
            .select("doc_id", "b_len", "b_lang",
                    F.col("zkey").cast("bigint").alias("zkey"),
                    F.shiftright(F.col("zkey"), ZORDER_BUCKET_SHIFT)
                    .cast("bigint").alias("zbucket")))


def _sql_zorder_layout() -> str:
    cases = " ".join(f"WHEN '{lg}' THEN {i}"
                     for i, lg in enumerate(ZORDER_LANGS))
    return f"""
WITH d AS (
  SELECT doc_id,
         CAST(least(floor(n_chars / {ZORDER_LEN_DIV}), 255) AS BIGINT)
           AS b_len,
         CAST(CASE lang {cases} ELSE 3 END AS BIGINT) AS b_lang
  FROM documents),
k AS (
  SELECT doc_id, b_len, b_lang, b_lang << 6 AS b_l8 FROM d),
z AS (
  SELECT doc_id, b_len, b_lang,
         {_zorder_exprs("duckdb")} AS zkey
  FROM k)
SELECT doc_id, b_len, b_lang, CAST(zkey AS BIGINT) AS zkey,
       CAST(zkey >> {ZORDER_BUCKET_SHIFT} AS BIGINT) AS zbucket
FROM z
"""


# -- temperature-scaled source mixing ------------------------------------------
#
# Multinomial mixture reweighting with temperature — the knob every
# multilingual LLM corpus uses (mT5/XLM-R-style alpha sampling): language
# s with n_s documents is kept with probability p_s = (n_min/n_s)^(1-alpha),
# so alpha=1 keeps the natural mix, alpha=0 equalizes all languages to the
# smallest, and MIX_ALPHA=0.5 square-root-flattens the head (the fixture
# corpus is source-uniform but language-skewed, en 2-3x fr).  Fully
# deterministic and map-side: the per-source counts are a tiny broadcast
# aggregate, membership is the same md5 integer test as
# cur_stratified_sample (u < floor(p_s * SAMPLE_MOD)), evaluated with
# identical IEEE double ops in both engines — no rand(), reproducible at
# any cluster size.

MIX_ALPHA = 0.5


def q_cur_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select("doc_id", "lang")
    counts = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lang"))
    nmin = counts.agg(F.min("n_lang").alias("n_min"))
    rates = (counts.crossJoin(F.broadcast(nmin))
             .select("lang", "n_lang",
                     F.floor(F.pow(F.col("n_min").cast("double")
                                   / F.col("n_lang").cast("double"),
                                   F.lit(1.0 - MIX_ALPHA))
                             * F.lit(SAMPLE_MOD))
                     .cast("bigint").alias("keep_scaled")))
    return (d.join(F.broadcast(rates), "lang")
            .select("doc_id", "lang", "n_lang", "keep_scaled",
                    (_hash_u(F.col("doc_id")) < F.col("keep_scaled"))
                    .alias("selected")))


SQL_CUR_TEMPERATURE_MIX = f"""
WITH counts AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_lang
  FROM documents GROUP BY lang),
rates AS (
  SELECT lang, n_lang,
         CAST(floor(pow(CAST((SELECT min(n_lang) FROM counts) AS DOUBLE)
                        / CAST(n_lang AS DOUBLE), {1.0 - MIX_ALPHA})
                    * {SAMPLE_MOD}) AS BIGINT) AS keep_scaled
  FROM counts)
SELECT d.doc_id, d.lang, r.n_lang, r.keep_scaled,
       ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
         % {SAMPLE_MOD} < r.keep_scaled AS selected
FROM documents d JOIN rates r USING (lang)
"""


# -- per-domain cap ----------------------------------------------------------------

DOMAIN_CAP = 20  # max expected docs kept per source


def q_cur_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain volume cap (the FineWeb/Dolma balancing step): a source
    contributing more than DOMAIN_CAP documents is downsampled to an
    EXPECTED cap by the deterministic hash test
    keep ⇔ u(doc_id) * n_src < SAMPLE_MOD * cap — exact integer
    cross-multiplication, reproducible at any cluster size.  The
    expected-count form is the scale-right one: keeping exactly the cap
    would need a per-source sort (one straggler task for a mega-domain),
    while the hash test is map-side after a plain equi-join with the
    per-source count table (AQE broadcasts it only when it actually
    fits — at web scale #domains is itself huge, same rule as the vocab
    tables).  Under-cap sources pass untouched."""
    d = _docs(spark, sf_dir)
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_src"))
    return (d.join(counts, "source")
            .withColumn("u", _hash_u(F.col("doc_id")))
            .filter((F.col("n_src") <= DOMAIN_CAP)
                    | (F.col("u") * F.col("n_src")
                       < F.lit(SAMPLE_MOD) * F.lit(DOMAIN_CAP)))
            .select("doc_id", "source", "n_src"))


SQL_CUR_DOMAIN_CAP = f"""
WITH counts AS (
  SELECT source, count(*) AS n_src FROM documents GROUP BY source),
hashed AS (
  SELECT d.doc_id, d.source, c.n_src,
         ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
           % {SAMPLE_MOD} AS u
  FROM documents d JOIN counts c USING (source))
SELECT doc_id, source, n_src
FROM hashed
WHERE n_src <= {DOMAIN_CAP} OR u * n_src < {SAMPLE_MOD} * {DOMAIN_CAP}
"""


# -- Bloom-filter decontamination ---------------------------------------------------

# The scale path for cur_decontaminate: the exact form broadcasts the FULL
# eval shingle-string set to every executor; at a real benchmark suite
# (10^7-10^8 shingles, ~50 bytes each) that is gigabytes per executor.  A
# Bloom filter compresses the set to BLOOM_BITS bits with a bounded
# false-positive rate and NO false negatives — exactly the runtime-filter
# trick Spark's own bloom-join uses.  Here the filter is 64 bigint words
# built by one tiny aggregation; membership is pure map-side bit math
# after a broadcast of the 64-row word table.  The exact semi-join result
# rides along as a canary column so superset-ness and the FP rate are
# auditable per run.
BLOOM_WORDS = 64        # filter = 64 x 62-bit words
BLOOM_BPW = 62          # bits used per word: 1 << 61 stays positive
BLOOM_BITS = BLOOM_WORDS * BLOOM_BPW
BLOOM_K = 3             # probes per key (double hashing h1 + i*h2)
# integer restatement of CONTAM_T so the flag needs no float compare;
# bloom and exact paths flag at the SAME threshold by construction
CONTAM_NUM, CONTAM_DEN = 1, 2
assert CONTAM_NUM / CONTAM_DEN == CONTAM_T


def _bloom_probe_sql(i: int, arr: str = "bloom_arr",
                     col: str = "shingle") -> str:
    """One Bloom membership probe as an engine-portable SQL boolean:
    bit (h1 + i*h2) mod BLOOM_BITS of the dense word array is set.  The
    Spark and DuckDB strings differ only in hash literal + index-div
    spelling (see _sql_bloom_probe)."""
    u1 = f"CAST(conv(substring(md5({col}), 1, 15), 16, 10) AS BIGINT)"
    u2 = f"CAST(conv(substring(md5({col}), 16, 15), 16, 10) AS BIGINT)"
    pos = f"(({u1} + {i} * {u2}) % {BLOOM_BITS})"
    mask = f"shiftleft(CAST(1 AS BIGINT), CAST({pos} % {BLOOM_BPW} AS INT))"
    word = f"element_at({arr}, CAST({pos} div {BLOOM_BPW} AS INT) + 1)"
    return f"(({word} & {mask}) = {mask})"


def _sql_bloom_probe(i: int) -> str:
    """DuckDB twin of _bloom_probe_sql (1-based list index, // division,
    the 0x-hex hash literal)."""
    u1 = f"('0x' || substr(md5(shingle), 1, 15))::BIGINT"
    u2 = f"('0x' || substr(md5(shingle), 16, 15))::BIGINT"
    pos = f"(({u1} + {i} * {u2}) % {BLOOM_BITS})"
    mask = f"(1::BIGINT << CAST({pos} % {BLOOM_BPW} AS INT))"
    word = f"arr[CAST({pos} // {BLOOM_BPW} AS INT) + 1]"
    return f"(({word} & {mask}) = {mask})"


def q_cur_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination through a from-scratch Bloom filter over
    the eval shingle set.  Build: each eval shingle sets BLOOM_K bit
    positions (h1 + i*h2 mod BLOOM_BITS); one tiny aggregation folds them
    into a DENSE 64-word bitset row via 64 conditional bit_ors.  Probe:
    the one-row bitset array is broadcast and every train-doc shingle
    evaluates all K probes in a single map-side projection — no explode,
    no per-shingle shuffle; the only corpus shuffle left is the per-doc
    aggregation.  The exact semi-join hit count rides along as a canary
    (it is the broadcast the filter replaces) so the no-false-negative
    invariant (n_hit_bloom >= n_hit_exact, identical distinct-shingle
    semantics on both paths) and the FP overhead are visible per doc."""
    from ..functions.hashing import md5_h1_h2

    sh = (_docs(spark, sf_dir)
          .select("doc_id", _shingles_col().alias("shingles"))
          .filter(F.size("shingles") > 0))
    eval_sh = (sh.filter(F.col("doc_id") % EVAL_MOD == 0)
               .select(F.explode("shingles").alias("shingle")).distinct())
    h1, h2 = md5_h1_h2(F.col("shingle"))
    epos = eval_sh.select(F.explode(F.array(
        *[((h1 + F.lit(i) * h2) % BLOOM_BITS) for i in range(BLOOM_K)]
    )).alias("pos"))
    bloom_row = (epos
                 .select(F.expr(f"pos div {BLOOM_BPW}").alias("word_idx"),
                         F.expr(f"shiftleft(CAST(1 AS BIGINT), "
                                f"CAST(pos % {BLOOM_BPW} AS INT))")
                         .alias("mask"))
                 .groupBy()
                 .agg(*[F.expr(f"bit_or(CASE WHEN word_idx = {w} THEN mask "
                               f"ELSE CAST(0 AS BIGINT) END)").alias(f"w{w}")
                        for w in range(BLOOM_WORDS)])
                 .select(F.array(*[f"w{w}" for w in range(BLOOM_WORDS)])
                         .alias("bloom_arr")))
    inst = (sh.filter(F.col("doc_id") % EVAL_MOD != 0)
            .select("doc_id", F.explode("shingles").alias("shingle"))
            .join(F.broadcast(eval_sh.withColumn("is_eval", F.lit(True))),
                  "shingle", "left")
            .withColumn("exact_hit", F.coalesce("is_eval", F.lit(False))))
    probed = (inst.crossJoin(F.broadcast(bloom_row))  # 1-row bitset side
              .withColumn("bloom_hit", F.expr(" AND ".join(
                  _bloom_probe_sql(i) for i in range(BLOOM_K)))))
    return (probed.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
        F.sum(F.when(F.col("exact_hit"), 1).otherwise(0))
         .cast("bigint").alias("n_hit_exact"),
        F.sum(F.when(F.col("bloom_hit"), 1).otherwise(0))
         .cast("bigint").alias("n_hit_bloom"))
        .select("doc_id", "n_shingles", "n_hit_exact", "n_hit_bloom",
                (F.col("n_hit_bloom") - F.col("n_hit_exact")).alias("bloom_fp"),
                (F.col("n_hit_bloom") * CONTAM_DEN
                 >= F.col("n_shingles") * CONTAM_NUM)
                .alias("bloom_flagged")))


SQL_CUR_BLOOM_DECONTAMINATE = f"""
WITH sh AS ({_SQL_SHINGLES}),
eval_sh AS (
  SELECT DISTINCT unnest(shingles) AS shingle
  FROM sh WHERE len(shingles) > 0 AND doc_id % {EVAL_MOD} = 0),
epos AS (
  SELECT (('0x' || substr(md5(shingle), 1, 15))::BIGINT
          + g.i * ('0x' || substr(md5(shingle), 16, 15))::BIGINT)
         % {BLOOM_BITS} AS pos
  FROM eval_sh, (VALUES (0), (1), (2)) g(i)),
bloom_words AS (
  SELECT pos // {BLOOM_BPW} AS word_idx,
         bit_or(1::BIGINT << CAST(pos % {BLOOM_BPW} AS INT)) AS bits
  FROM epos GROUP BY pos // {BLOOM_BPW}),
bloom AS (
  SELECT list(coalesce(b.bits, 0) ORDER BY g.w) AS arr
  FROM generate_series(0, {BLOOM_WORDS - 1}) g(w)
  LEFT JOIN bloom_words b ON b.word_idx = g.w),
inst AS (
  SELECT u.doc_id, u.shingle,
         (e.shingle IS NOT NULL) AS exact_hit
  FROM (SELECT doc_id, unnest(shingles) AS shingle
        FROM sh WHERE len(shingles) > 0 AND doc_id % {EVAL_MOD} <> 0) u
  LEFT JOIN eval_sh e ON e.shingle = u.shingle),
probed AS (
  SELECT i.doc_id, i.exact_hit,
         {" AND ".join(_sql_bloom_probe(i) for i in range(BLOOM_K))} AS bloom_hit
  FROM inst i, bloom)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN exact_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_hit_exact,
       CAST(sum(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_hit_bloom,
       CAST(sum(CASE WHEN bloom_hit THEN 1 ELSE 0 END)
            - sum(CASE WHEN exact_hit THEN 1 ELSE 0 END) AS BIGINT) AS bloom_fp,
       CAST(sum(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT) * {CONTAM_DEN}
         >= CAST(count(*) AS BIGINT) * {CONTAM_NUM} AS bloom_flagged
FROM probed GROUP BY doc_id
"""


# -- URL canonicalization + keep-first dedup ------------------------------------------
#
# The first dedup stage a web-crawl pipeline runs (FineWeb/Dolma both do it
# BEFORE any content hashing): two crawls of the same page differ only in
# scheme case, www prefix, host case, tracking parameters (utm_*, ref,
# fbclid, gclid), or a trailing slash — canonicalize the URL and keep the
# first (min doc_id) fetch per canonical form.  The fixture corpus carries
# no URL column, so the operator derives one deterministically from
# (doc_id, source) with exactly those mutation classes baked in; on a real
# crawl the synth CTE is replaced by the crawl's url column and nothing
# else changes.
#
# Scale shape: canonicalization is a map-side regexp/string chain evaluated
# inside the scan's codegen stage (no UDF); the keep-first election is ONE
# mergeable groupBy(canon_url) (min + count get map-side partials) and the
# join back is equi on canon_url, reusing the agg's hash partitioning — no
# window over the group (a hot canonical URL — a crawl loop fetching one
# page millions of times — would pin a single straggler task under
# row_number; min/count pre-reduce inside every map task instead).
# Patterns are in the Java-regex ∩ RE2 subset (the cur_pii_redact rule) so
# the DuckDB oracle is exact.

_URL_TRACK_RE = "&(utm_[a-z]+|ref|fbclid|gclid)=[^&]*"


def _synth_url_col() -> "F.Column":
    d = F.col("doc_id")
    scheme = F.when(d % 2 == 0, F.lit("https://")).otherwise(F.lit("HTTP://"))
    www = F.when(d % 3 == 0, F.lit("WWW.")).otherwise(F.lit(""))
    hostb = F.when(d % 4 == 0, F.upper("source")).otherwise(F.col("source"))
    path = F.concat(F.lit("/articles/item-"), (d % 17).cast("string"))
    slash = F.when(d % 5 == 0, F.lit("/")).otherwise(F.lit(""))
    q = (F.when(d % 2 == 0,
                F.concat(F.lit("?utm_source=feed&utm_campaign=c"),
                         (d % 4).cast("string")))
         .when(d % 7 == 0,
               F.concat(F.lit("?ref=rss&page="), (d % 3).cast("string")))
         .when(d % 11 == 0,
               F.concat(F.lit("?page="), (d % 3).cast("string"),
                        F.lit("&utm_medium=email")))
         .otherwise(F.lit("")))
    return F.concat(scheme, www, hostb, F.lit(".example.com"),
                    path, slash, q)


def _canon_url_col(url: "F.Column") -> "F.Column":
    """scheme-strip -> host lowercase + www-strip -> tracking-param strip
    (?' normalized to '&' first so position never matters) -> trailing-
    slash strip -> reassemble with '?' iff real params survive."""
    no_scheme = F.regexp_replace(url, "^[A-Za-z]+://", "")
    hostraw = F.split_part(no_scheme, F.lit("/"), F.lit(1))
    host = F.regexp_replace(F.lower(hostraw), "^www\\.", "")
    tail = F.regexp_replace(no_scheme, "^[^/]*", "")
    t1 = F.replace(tail, F.lit("?"), F.lit("&"))
    t2 = F.regexp_replace(t1, _URL_TRACK_RE, "")
    path = F.regexp_replace(F.split_part(t2, F.lit("&"), F.lit(1)),
                            "/+$", "")
    params = F.regexp_replace(t2, "^[^&]*&?", "")
    return F.concat(host, path,
                    F.when(params != F.lit(""),
                           F.concat(F.lit("?"), params))
                    .otherwise(F.lit("")))


def q_cur_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    urls = (_docs(spark, sf_dir)
            .select("doc_id", _synth_url_col().alias("url")))
    canon = urls.select("doc_id", "url",
                        _canon_url_col(F.col("url")).alias("canon_url"))
    grp = (canon.groupBy("canon_url")
           .agg(F.min("doc_id").alias("keeper_id"),
                F.count(F.lit(1)).alias("group_size")))
    return (canon.join(grp, "canon_url")
            .select("doc_id", "url", "canon_url",
                    (F.col("doc_id") == F.col("keeper_id")).alias("is_keeper"),
                    F.col("group_size").cast("bigint").alias("group_size")))


SQL_CUR_URL_DEDUP = f"""
WITH u AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTP://' END)
         || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END)
         || (CASE WHEN doc_id % 4 = 0 THEN upper(source) ELSE source END)
         || '.example.com/articles/item-' || CAST(doc_id % 17 AS VARCHAR)
         || (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END)
         || (CASE WHEN doc_id % 2 = 0
                  THEN '?utm_source=feed&utm_campaign=c'
                       || CAST(doc_id % 4 AS VARCHAR)
                  WHEN doc_id % 7 = 0
                  THEN '?ref=rss&page=' || CAST(doc_id % 3 AS VARCHAR)
                  WHEN doc_id % 11 = 0
                  THEN '?page=' || CAST(doc_id % 3 AS VARCHAR)
                       || '&utm_medium=email'
                  ELSE '' END) AS url
  FROM documents
), s AS (
  SELECT doc_id, url,
         regexp_replace(url, '^[A-Za-z]+://', '') AS no_scheme
  FROM u
), c AS (
  SELECT doc_id, url,
         regexp_replace(lower(split_part(no_scheme, '/', 1)),
                        '^www\\.', '') AS host,
         regexp_replace(
           replace(regexp_replace(no_scheme, '^[^/]*', ''), '?', '&'),
           '{_URL_TRACK_RE}', '', 'g') AS t2
  FROM s
), c3 AS (
  SELECT doc_id, url,
         host || regexp_replace(split_part(t2, '&', 1), '/+$', '')
              || (CASE WHEN regexp_replace(t2, '^[^&]*&?', '') <> ''
                       THEN '?' || regexp_replace(t2, '^[^&]*&?', '')
                       ELSE '' END) AS canon_url
  FROM c
), g AS (
  SELECT canon_url, min(doc_id) AS keeper_id, count(*) AS group_size
  FROM c3 GROUP BY canon_url
)
SELECT c3.doc_id, c3.url, c3.canon_url,
       c3.doc_id = g.keeper_id AS is_keeper,
       CAST(g.group_size AS BIGINT) AS group_size
FROM c3 JOIN g USING (canon_url)
"""


# -- per-source score normalization (percentile re-scoring) --------------------
#
# Quality scores are not comparable across heterogeneous sources (a
# "good" CommonCrawl score and a "good" arXiv score live on different
# scales), so corpus mixes normalize per-source BEFORE thresholding or
# temperature mixing — DataComp/DCLM re-score exactly this way.  The
# percentile is exact (rank semantics identical to SQL percent_rank), but
# computed WITHOUT a corpus-sized window: a window partitioned by source
# would materialize every row of a source in one task — the hot-source
# straggler at 100 TB.  Instead: ONE mergeable groupBy(source, score)
# builds the score histogram (map-side partial agg), the rank prefix-sum
# runs as a window over that HISTOGRAM (dimension-sized: distinct score
# values per source, bounded by the score's resolution, never by doc
# count), and the percentile joins back on the uniform composite key
# (source, score).  pr_q = (rank-1)*1e6 DIV (N-1): pure integer math end
# to end, no IEEE op anywhere, so both engines agree bit-for-bit.


def q_cur_score_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-source percentile of the length score (percent_rank
    semantics: min-rank of the tie group, (rank-1)/(N-1)), quantized to
    ppm by integer division."""
    d = _docs(spark, sf_dir).select("doc_id", "source", "n_chars")
    buckets = (d.groupBy("source", "n_chars")
               .agg(F.count(F.lit(1)).alias("cnt")))
    w = (Window.partitionBy("source").orderBy("n_chars")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    ranked = (buckets
              .withColumn("rank",
                          F.sum("cnt").over(w) - F.col("cnt") + F.lit(1)))
    totals = buckets.groupBy("source").agg(F.sum("cnt").alias("n_src"))
    pr = (ranked.join(totals, "source")
          .select("source", "n_chars",
                  F.when(F.col("n_src") > 1,
                         F.expr("(rank - 1) * 1000000 div (n_src - 1)"))
                  .otherwise(F.lit(0)).cast("bigint").alias("pr_q")))
    return (d.join(pr, ["source", "n_chars"])
            .select("doc_id", "source",
                    F.col("n_chars").alias("score"), "pr_q"))


SQL_CUR_SCORE_NORMALIZE = """
WITH b AS (
  SELECT source, n_chars, count(*) AS cnt
  FROM documents GROUP BY source, n_chars
), r AS (
  SELECT source, n_chars,
         sum(cnt) OVER (PARTITION BY source ORDER BY n_chars)
           - cnt + 1 AS rank
  FROM b
), t AS (
  SELECT source, sum(cnt) AS n_src FROM b GROUP BY source
)
SELECT d.doc_id, d.source, d.n_chars AS score,
       CAST(CASE WHEN t.n_src > 1
                 THEN ((r.rank - 1) * 1000000) // (t.n_src - 1)
                 ELSE 0 END AS BIGINT) AS pr_q
FROM documents d
JOIN r ON d.source = r.source AND d.n_chars = r.n_chars
JOIN t ON d.source = t.source
"""


# -- keep-best canonical selection per near-dup group ---------------------------
#
# Dedup keepers are usually "first seen" (min doc_id) — but a curation
# pipeline wants the BEST member of each duplicate group (longest /
# highest-quality copy of a boilerplate-prefixed page), not an arbitrary
# one.  Groups here are shared-64-char-prefix buckets (leading-boilerplate
# near-dup heuristic); quality is the length score.

_KEEP_BEST_PACK = 10_000_000_000  # doc_id < 10^10: fits (quality, -id) in one BIGINT


def q_cur_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-per-group selection as ONE mergeable aggregate.

    Scale shape: max_by with the (n_chars, -doc_id) ordering packed into
    a single BIGINT (n_chars * 10^10 - doc_id — deterministic tiebreak:
    highest quality, then lowest id) runs as a map-side partial agg +
    one shuffle on the uniform hash key — no window over the group (a
    boilerplate prefix shared by 10^7 pages would pin one task) and no
    join-back (contrast cur_url_dedup, which flags every member; this
    emits only the survivors, the corpus a trainer actually reads).
    Pure integer ordering — bit-exact on both engines."""
    d = _docs(spark, sf_dir).select("doc_id", "n_chars", "text")
    ord_ = (F.col("n_chars") * F.lit(_KEEP_BEST_PACK) - F.col("doc_id"))
    return (d.groupBy(F.md5(F.substring("text", 1, 64)).alias("prefix_hash"))
            .agg(F.max_by("doc_id", ord_).alias("keeper_id"),
                 F.max("n_chars").cast("bigint").alias("best_n_chars"),
                 F.count(F.lit(1)).cast("bigint").alias("n_docs")))


SQL_CUR_KEEP_BEST = f"""
SELECT md5(substr(text, 1, 64)) AS prefix_hash,
       arg_max(doc_id, n_chars * {_KEEP_BEST_PACK} - doc_id) AS keeper_id,
       CAST(max(n_chars) AS BIGINT) AS best_n_chars,
       CAST(count(*) AS BIGINT) AS n_docs
FROM documents
GROUP BY md5(substr(text, 1, 64))
"""


# -- coherent universe sampling ---------------------------------------------------------

UNIVERSE_T = 300_000  # keep users whose hash lands below 30% of SAMPLE_MOD


def q_cur_universe_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Universe sampling (the BigQuery/Meta trick for debugging 100 TB
    joins): sample ENTITIES, not rows — every table filtered by the SAME
    deterministic hash test on the SAME key keeps a coherent universe,
    so samples still JOIN (row-level Bernoulli breaks every join: a 1%
    sample of two tables shares ~0.01% of keys).

    Scale shape: the hash test is a map-side filter pushed onto both
    scans — no coordination, no sampled-key exchange, any number of
    tables join coherently because the decision is a pure function of
    the key.  The rollup after the (now tiny) inner join is one
    mergeable groupBy.  countDistinct here is exact and bounded by the
    sampled-user count.  Output is pure integers."""
    ev = (read_table(spark, sf_dir, "events")
          .filter(_hash_u(F.col("user_id")) < UNIVERSE_T))
    cust = (read_table(spark, sf_dir, "customer")
            .filter(_hash_u(F.col("c_custkey")) < UNIVERSE_T)
            .select("c_custkey", "c_mktsegment"))
    return (ev.join(cust, ev.user_id == cust.c_custkey)
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"),
                 F.countDistinct("user_id").cast("bigint")
                 .alias("n_users")))


SQL_CUR_UNIVERSE_SAMPLE = f"""
WITH se AS (
  SELECT * FROM events
  WHERE CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT)
        % {SAMPLE_MOD} < {UNIVERSE_T}
), sc AS (
  SELECT c_custkey, c_mktsegment FROM customer
  WHERE CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT)
        % {SAMPLE_MOD} < {UNIVERSE_T}
)
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM se JOIN sc ON user_id = c_custkey
GROUP BY c_mktsegment
"""


# -- differentially-private release counts -------------------------------------------
#
# Discrete-Laplace (two-sided geometric) mechanism for the per-cell counts
# a corpus release publishes (epsilon = DP_EPS, sensitivity 1): noise_k ~
# P(k) ∝ exp(-eps·|k|), truncated to ±DP_TRUNC.  The noise is drawn via
# inverse-CDF over the SAME md5 hash-uniform integer both engines already
# share (cur_stratified_sample's _hash_u discipline), and — the key
# determinism move — the CDF thresholds are INTEGER LITERALS computed once
# in Python below and embedded in BOTH the Spark plan and the oracle SQL,
# so no transcendental function ever evaluates inside either engine and
# the noisy counts are bit-identical.  Map-side: one partial-agg groupBy,
# noise applied to the tiny cell table.  (Deterministic seeding is for
# testability; a production release swaps the hash for a secret seed —
# the mechanism, truncation, and composition accounting are unchanged.)

import math as _math

DP_EPS = 1.0
DP_TRUNC = 8

_DP_ALPHA = _math.exp(-DP_EPS)
_DP_NORM = (1 - _DP_ALPHA) / (1 + _DP_ALPHA)
# integer CDF thresholds over [−DP_TRUNC, DP_TRUNC) at SAMPLE_MOD grain;
# the final bucket (+DP_TRUNC) is the ELSE arm
_DP_THRESHOLDS: list[tuple[int, int]] = []
_cdf = 0.0
for _k in range(-DP_TRUNC, DP_TRUNC):
    _cdf += _DP_NORM * _DP_ALPHA ** abs(_k)
    _DP_THRESHOLDS.append((_k, int(_cdf * SAMPLE_MOD)))


def _dp_noise_col(u) -> "F.Column":
    expr = F.lit(DP_TRUNC)
    for k, t in reversed(_DP_THRESHOLDS):
        expr = F.when(u < t, F.lit(k)).otherwise(expr)
    return expr


def q_cur_dp_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    cells = (d.groupBy("lang", "source")
             .agg(F.count(F.lit(1)).alias("n")))
    u = _hash_u(F.concat_ws("|", "lang", "source"))
    return (cells.select(
        "lang", "source",
        F.greatest(F.lit(0), F.col("n") + _dp_noise_col(u))
         .cast("bigint").alias("noisy_n")))


def _sql_dp_count() -> str:
    case = " ".join(f"WHEN u < {t} THEN {k}" for k, t in _DP_THRESHOLDS)
    return f"""
WITH cells AS (
  SELECT lang, source, count(*) AS n,
         ('0x' || substr(md5(lang || '|' || source), 1, 15))::BIGINT
           % {SAMPLE_MOD} AS u
  FROM documents GROUP BY 1, 2
)
SELECT lang, source,
       CAST(greatest(0, n + CASE {case} ELSE {DP_TRUNC} END) AS BIGINT)
         AS noisy_n
FROM cells
"""


# -- Hilbert-curve layout key --------------------------------------------------------
#
# Locality sibling of cur_zorder_layout: the Hilbert curve guarantees
# consecutive keys are ADJACENT grid cells (unit Manhattan step — pinned by
# test over the full 256x256 grid), so a range of Hilbert buckets maps to a
# tighter rectangle set than the same range of Z-order buckets (Z-order
# jumps at quadrant seams).  This is the layout Databricks liquid
# clustering and modern Iceberg writers prefer over Z-order for 2-D
# predicate locality.  Pure integer bit math (the 8-step unrolled
# xy→d transform below), ZERO shuffle, evaluated identically in both
# engines — the same discipline as cur_zorder_layout.

HILBERT_ORDER = 8                 # 8 bits per axis -> 256x256 grid
HILBERT_BUCKET_SHIFT = 8          # hbucket = hkey >> 8: 256 buckets


def hilbert_d(x: int, y: int, order: int = HILBERT_ORDER) -> int:
    """Pure-Python twin of the dataflow transform (tests + docs)."""
    d = 0
    s = 1 << (order - 1)
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s //= 2
    return d


def q_cur_hilbert_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.least(F.floor(F.col("n_chars") / ZORDER_LEN_DIV), F.lit(255))
         .cast("bigint").alias("bx"),
        (F.conv(F.substring(F.md5(F.concat_ws("|", "source", "lang")), 1, 15),
                16, 10).cast("bigint") % 256).alias("by"))
    df = d.select("doc_id", "bx", "by",
                  F.col("bx").alias("x"), F.col("by").alias("y"),
                  F.lit(0).cast("bigint").alias("hd"))
    for i in range(HILBERT_ORDER - 1, -1, -1):
        s = 1 << i
        rx = F.when(F.col("x").bitwiseAND(F.lit(s)) > 0,
                    F.lit(1)).otherwise(F.lit(0))
        ry = F.when(F.col("y").bitwiseAND(F.lit(s)) > 0,
                    F.lit(1)).otherwise(F.lit(0))
        hd = F.col("hd") + F.lit(s * s) * (rx * 3).bitwiseXOR(ry)
        xn = (F.when(ry == 0,
                     F.when(rx == 1, F.lit(s - 1) - F.col("y"))
                      .otherwise(F.col("y")))
               .otherwise(F.col("x")))
        yn = (F.when(ry == 0,
                     F.when(rx == 1, F.lit(s - 1) - F.col("x"))
                      .otherwise(F.col("x")))
               .otherwise(F.col("y")))
        df = df.select("doc_id", "bx", "by", xn.alias("x"), yn.alias("y"),
                       hd.alias("hd"))
    return df.select("doc_id", "bx", "by",
                     F.col("hd").cast("bigint").alias("hkey"),
                     F.shiftright(F.col("hd"), HILBERT_BUCKET_SHIFT)
                      .cast("bigint").alias("hbucket"))


def _sql_hilbert_layout() -> str:
    ctes = [f"""k0 AS (
  SELECT doc_id, bx, by, bx AS x, by AS y, CAST(0 AS BIGINT) AS hd FROM d)"""]
    for step, i in enumerate(range(HILBERT_ORDER - 1, -1, -1), start=1):
        s = 1 << i
        rx = f"CASE WHEN (x & {s}) > 0 THEN 1 ELSE 0 END"
        ry = f"CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END"
        ctes.append(f"""k{step} AS (
  SELECT doc_id, bx, by,
         CASE WHEN ({ry}) = 0
              THEN CASE WHEN ({rx}) = 1 THEN {s - 1} - y ELSE y END
              ELSE x END AS x,
         CASE WHEN ({ry}) = 0
              THEN CASE WHEN ({rx}) = 1 THEN {s - 1} - x ELSE x END
              ELSE y END AS y,
         hd + {s * s} * xor(({rx}) * 3, {ry}) AS hd
  FROM k{step - 1})""")
    return f"""
WITH d AS (
  SELECT doc_id,
         CAST(least(floor(n_chars / {ZORDER_LEN_DIV}), 255) AS BIGINT)
           AS bx,
         ('0x' || substr(md5(source || '|' || lang), 1, 15))::BIGINT % 256
           AS by
  FROM documents),
{",".join(ctes)}
SELECT doc_id, bx, by, CAST(hd AS BIGINT) AS hkey,
       CAST(hd >> {HILBERT_BUCKET_SHIFT} AS BIGINT) AS hbucket
FROM k{HILBERT_ORDER}
"""


# -- overlapping context-window chunking (RAG / training windows) ------------------

CHUNK_W = 32       # tokens per chunk
CHUNK_STRIDE = 24  # stride between chunk starts (CHUNK_W - CHUNK_STRIDE overlap)


def q_cur_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split every document into overlapping CHUNK_W-token windows at
    CHUNK_STRIDE — the sliding-context chunking a RAG indexer or a
    long-context training loader applies before embedding/packing
    (reference app/slice_extractor emits whole slices; the window pass is
    the pipeline step after it).

    Scale shape: map-only — starts come from ``sequence`` over the doc's
    own length and the window slice is array math on the already-split
    token array, so there is NO shuffle and NO Python; a 10^12-doc corpus
    chunks at scan speed.  The trailing window is kept short (never
    padded, never dropped) so coverage is total: every token lands in
    >=1 chunk."""
    d = _docs(spark, sf_dir)
    words = F.split("text", " ", -1)
    starts = F.sequence(F.lit(0),
                        F.greatest(F.size(words) - 1, F.lit(0)),
                        F.lit(CHUNK_STRIDE))
    chunks = F.transform(
        starts,
        lambda s: F.array_join(F.slice(words, s + 1, CHUNK_W), " "))
    return (d.select("doc_id", F.posexplode(chunks)
                     .alias("chunk_idx", "chunk_text"))
            .select("doc_id",
                    F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
                    F.size(F.split("chunk_text", " ", -1))
                    .cast("bigint").alias("n_tokens"),
                    "chunk_text"))


SQL_CUR_CHUNK_OVERLAP = f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
s AS (
  SELECT doc_id, w,
         unnest(generate_series(0, greatest(len(w) - 1, 0),
                                {CHUNK_STRIDE})) AS start,
         unnest(generate_series(0,
             len(generate_series(0, greatest(len(w) - 1, 0),
                                 {CHUNK_STRIDE})) - 1)) AS chunk_idx
  FROM d
)
SELECT doc_id,
       CAST(chunk_idx AS BIGINT) AS chunk_idx,
       CAST(len(list_slice(w, start + 1,
                           least(start + {CHUNK_W}, len(w)))) AS BIGINT)
         AS n_tokens,
       array_to_string(list_slice(w, start + 1,
                                  least(start + {CHUNK_W}, len(w))), ' ')
         AS chunk_text
FROM s
"""


# -- k-anonymity audit over quasi-identifiers ---------------------------------------

K_ANON = 5


def q_cur_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit: group the corpus by its quasi-identifier tuple
    (lang, source, length decile) and flag equivalence classes smaller
    than K_ANON — the privacy gate a release pipeline runs after PII
    redaction (cur_pii_redact) to catch re-identifiable small cells.

    Scale shape: ONE groupBy shuffle with map-side partial counts; the
    quasi-id space is tiny (langs x sources x 10 buckets) so the result
    is always driver-safe.  The length decile is integer floor math, not
    a percentile pass."""
    d = _docs(spark, sf_dir)
    bucket = F.least(F.floor(F.col("n_chars") / 100), F.lit(9)).cast("bigint")
    return (d.groupBy(F.col("lang"), F.col("source"),
                      bucket.alias("len_bucket"))
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .select("lang", "source", "len_bucket",
                    F.col("n_docs").cast("bigint").alias("n_docs"),
                    (F.col("n_docs") < K_ANON).alias("below_k")))


SQL_CUR_K_ANONYMITY = f"""
SELECT lang, source,
       CAST(least(floor(n_chars / 100), 9) AS BIGINT) AS len_bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       count(*) < {K_ANON} AS below_k
FROM documents
GROUP BY 1, 2, 3
"""


QUERIES = {
    "cur_universe_sample": (q_cur_universe_sample, SQL_CUR_UNIVERSE_SAMPLE),
    "cur_chunk_overlap": (q_cur_chunk_overlap, SQL_CUR_CHUNK_OVERLAP),
    "cur_k_anonymity": (q_cur_k_anonymity, SQL_CUR_K_ANONYMITY),
    "cur_hilbert_layout": (q_cur_hilbert_layout, _sql_hilbert_layout()),
    "cur_dp_count": (q_cur_dp_count, _sql_dp_count()),
    "cur_corpus_build": (q_cur_corpus_build, _sql_corpus_build()),
    "cur_keep_best": (q_cur_keep_best, SQL_CUR_KEEP_BEST),
    "cur_score_normalize": (q_cur_score_normalize, SQL_CUR_SCORE_NORMALIZE),
    "cur_url_dedup": (q_cur_url_dedup, SQL_CUR_URL_DEDUP),
    "cur_domain_cap": (q_cur_domain_cap, SQL_CUR_DOMAIN_CAP),
    "cur_decontaminate": (q_cur_decontaminate, SQL_CUR_DECONTAMINATE),
    "cur_fuzzy_decontaminate": (q_cur_fuzzy_decontaminate,
                                SQL_CUR_FUZZY_DECONTAMINATE),
    "cur_stratified_sample": (q_cur_stratified_sample,
                              SQL_CUR_STRATIFIED_SAMPLE),
    "cur_pack_sequences": (q_cur_pack_sequences, SQL_CUR_PACK_SEQUENCES),
    "cur_pii_redact": (q_cur_pii_redact, SQL_CUR_PII_REDACT),
    "cur_quality_gate": (q_cur_quality_gate, _sql_quality_gate()),
    "cur_dsir_select": (q_cur_dsir_select, _sql_dsir_select()),
    "cur_shard_export": (q_cur_shard_export, SQL_CUR_SHARD_EXPORT),
    "cur_temperature_mix": (q_cur_temperature_mix, SQL_CUR_TEMPERATURE_MIX),
    "cur_zorder_layout": (q_cur_zorder_layout, _sql_zorder_layout()),
    "cur_bloom_decontaminate": (q_cur_bloom_decontaminate,
                                SQL_CUR_BLOOM_DECONTAMINATE),
}
