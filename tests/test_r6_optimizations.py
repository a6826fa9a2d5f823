"""Round-6 optimization pins.

Each optimization in this round restructured HOW something is computed
while keeping WHAT it computes identical.  These tests pin the equivalence
claims:

* the fused glyph+whitespace cleaning pass == the literal 3-step contract
  (Python-level fuzz over the adversarial token alphabet, plus Spark-level
  equality on real corpus text);
* the sql parse plan holds each raw kind's derivation once;
* the single-parse SQL-string shingle/minhash/cosine expressions == their
  former Column forms (kept inline here as the reference);
* read_table keeps the local fan-out for single-split fixtures and skips
  the shuffle for inputs that already scan wide;
* the zero-exchange extract path (input pre-partitioned by doc_id) equals
  the repartition path byte-for-byte.

Plan shapes are asserted as counts of physical plan nodes and expressions,
found by walking the plan tree by class name.  Those class names belong to
Spark 4.1.x; on any other version the plan-shape tests fail, saying so.
"""

from __future__ import annotations

import random
import re

import pytest
from pyspark.sql import functions as F

from document_processor_spark import contract as C
from document_processor_spark import fixtures, pipeline

PLAN_SPARK = "4.1."


def _seq(xs) -> list:
    return [xs.apply(i) for i in range(xs.length())]


def _plan_nodes(df, plan: str = "executedPlan") -> list:
    """Every physical node of `df`'s `plan` (a QueryExecution accessor):
    children, the plan an adaptive root or a query stage wraps, and
    subquery plans.  A cached relation's build plan is not a child of its
    InMemoryTableScanExec, so it is not visited."""
    version = df.sparkSession.version
    if not version.startswith(PLAN_SPARK):
        pytest.fail(f"plan-shape checks walk Spark {PLAN_SPARK}x physical "
                    f"plan classes; this session runs Spark {version}")
    out, todo = [], [getattr(df._jdf.queryExecution(), plan)()]
    while todo:
        node = todo.pop()
        out.append(node)
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif name.endswith("QueryStageExec"):
            todo.append(node.plan())
        todo.extend(_seq(node.children()))
        todo.extend(_seq(node.subqueries()))
    return out


def _count_nodes(df, *names: str, plan: str = "executedPlan") -> int:
    return sum(n.getClass().getSimpleName() in names
               for n in _plan_nodes(df, plan))


def _count_exprs(df, name: str) -> int:
    """Expressions of class `name` anywhere in the nodes' expression trees."""
    n, todo = 0, [e for node in _plan_nodes(df) for e in _seq(node.expressions())]
    while todo:
        e = todo.pop()
        n += e.getClass().getSimpleName() == name
        todo.extend(_seq(e.children()))
    return n


# -- fused cleaning pass ------------------------------------------------------

_TOKENS = ["glyph<12>", "glyph<c=3,font=/AB12+Foo-Bar>", "GLYPH<9>",
           "Glyph<c=1,font=/X0+y>", " ", "\t", "\n", "\x0b", "\f", "\r",
           "a", "xy", "glyph<", ">", "glyph<c=,font=/>", "H1:", ".",
           "glyph<abc>", "b c"]


def _clean_ref(s: str) -> str:
    s = re.sub(C.GLYPH_PATTERN, " ", s)
    s = re.sub(C.SPACE_TAB_PATTERN, " ", s)
    return re.sub(C.STRIP_PATTERN, "", s)


def _clean_fused(s: str) -> str:
    return re.sub(C.GLYPH_RUN_PATTERN, " ", s).strip(C.JAVA_WS)


def test_glyph_run_pattern_fuzz_equivalence():
    rnd = random.Random(42)
    for _ in range(100_000):
        s = "".join(rnd.choice(_TOKENS) for _ in range(rnd.randint(0, 12)))
        assert _clean_ref(s) == _clean_fused(s), repr(s)


def test_clean_text_col_matches_contract_on_corpus(spark):
    from document_processor_spark.functions import cleaning as X
    docs = fixtures.corpus_df(spark, 0.001, n_partitions=4)
    texts = (docs.select(F.explode("spans").alias("s"))
             .select(F.col("s.text").alias("t"))
             .filter(F.col("t").isNotNull()))
    got = texts.selectExpr("t", f"{X.clean_text('t')} AS c").collect()
    for r in got:
        assert r["c"] == C.clean_text(r["t"])


def test_is_blank_col_matches_reference(spark):
    from document_processor_spark.functions import cleaning as X
    rows = [("",), (" \t\n",), ("\x0b\f\r",), ("a",), (" a ",), (None,),
            ("\t x",)]
    df = spark.createDataFrame(rows, "s string")
    got = df.selectExpr("s", f"{X.is_blank('s')} AS b").collect()
    for r in got:
        ref = re.sub(r"\s", "", r["s"] or "") == ""
        assert r["b"] == ref, r


# -- one derivation per span in the parse plan --------------------------------

def test_parse_plan_derives_each_kind_once(spark):
    """Each raw kind's derivation is one subtree of the executed parse plan:
    one RegExpReplace per clean/strip site (pdf_text and media alt text
    share one clean; scan clean; html strip and clean; table cell clean),
    one UnBase64 for the scan decode, one RLike per match (scan grammar,
    html heading tag)."""
    docs = fixtures.corpus_df(spark, 0.001, n_partitions=4)
    parsed = pipeline.parse_sql(pipeline.explode_spans(docs))
    assert [_count_exprs(parsed, n)
            for n in ("RegExpReplace", "UnBase64", "RLike")] == [5, 1, 2]


# -- single-parse SQL strings == former Column forms --------------------------

def test_shingles_sql_string_equals_column_form(spark):
    from document_processor_spark.operators import dedup
    d = (fixtures.corpus_df(spark, 0.001, n_partitions=4)
         .select("doc_id", F.explode("spans").alias("s"))
         .select("doc_id", F.col("s.text").alias("text"))
         .filter(F.col("text").isNotNull()).limit(300))
    # former Column construction, kept as the reference
    arr = F.split("text", " ", -1)
    n = F.size(arr) - 2
    w1 = F.slice(arr, 1, n)
    w2 = F.slice(F.split("text", " ", -1), 2, n)
    w3 = F.slice(F.split("text", " ", -1), 3, n)
    pair = F.zip_with(w1, w2, lambda x, y: F.concat(x, F.lit(" "), y))
    tri = F.zip_with(pair, w3, lambda x, y: F.concat(x, F.lit(" "), y))
    ref = F.when(F.size(F.split("text", " ", -1)) >= 3,
                 F.array_distinct(tri)).otherwise(
                     F.array().cast("array<string>"))
    rows = d.select(dedup._shingles_col().alias("got"),
                    ref.alias("ref")).collect()
    assert rows and all(r["got"] == r["ref"] for r in rows)


def test_minhash_band_sigs_sql_string_equals_column_form(spark):
    from document_processor_spark.operators import dedup
    d = (fixtures.corpus_df(spark, 0.001, n_partitions=4)
         .select("doc_id", F.explode("spans").alias("s"))
         .select("doc_id", F.col("s.text").alias("text"))
         .filter(F.col("text").isNotNull()).limit(200)
         .select("doc_id", dedup._shingles_col().alias("shingles"))
         .filter(F.size("shingles") > 0)
         .withColumn("xs", dedup._shingle_ints_col()))

    def mh_ref(k):
        a, b = dedup._MINHASH_AB[k]
        return F.array_min(F.transform(
            F.col("xs"), lambda x: (F.lit(a) * x + F.lit(b))
            % dedup.MINHASH_P))
    ref = F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.concat_ws("|", *[
                     mh_ref(b * dedup.MINHASH_ROWS_PER_BAND + i)
                     .cast("string")
                     for i in range(dedup.MINHASH_ROWS_PER_BAND)])
                 .alias("mh"))
        for b in range(dedup.N_BANDS)])
    rows = d.select(dedup._band_sigs_col().alias("got"),
                    ref.alias("ref")).collect()
    assert rows and all(r["got"] == r["ref"] for r in rows)


def test_cosine_bucket_sql_string_equals_column_form(spark):
    from document_processor_spark.operators import dedup
    e = dedup._emb_vn(spark, "/root/testdata/sf0.01").limit(200)
    def plane(j, t):
        def body(x, i):
            return x * (((i * 31 + j * 17 + t * 53) % 7) - 3).cast("double")
        return F.aggregate(
            F.zip_with(F.col("v"), F.sequence(F.lit(0), F.lit(63)), body),
            F.lit(0.0), lambda acc, x: acc + x)

    for t in (0, dedup.N_TABLES - 1):
        bits = []
        for j in range(dedup.N_PLANES):
            bits.append(F.when(plane(j, t) > 0, F.lit(1 << j)).otherwise(0))
        ref = bits[0]
        for b in bits[1:]:
            ref = ref + b
        rows = e.select(dedup._bucket_expr("v", t).alias("got"),
                        ref.alias("ref")).collect()
        assert rows and all(r["got"] == r["ref"] for r in rows)


# -- read_table ---------------------------------------------------------------

def _round_robin_exchanges(df) -> int:
    """RoundRobin shuffle exchanges in the physical plan before AQE and
    exchange planning: the read's own explicit repartition."""
    return sum(n.getClass().getSimpleName() == "ShuffleExchangeExec"
               and n.outputPartitioning().getClass().getSimpleName()
               == "RoundRobinPartitioning"
               for n in _plan_nodes(df, "sparkPlan"))


def test_read_table_repartitions_single_split_and_skips_wide(spark, tmp_path):
    from document_processor_spark.operators._scan import read_table
    cores = spark.sparkContext.defaultParallelism
    # tiny single-split fixture: the explicit repartition is kept
    fanned = read_table(spark, "/root/testdata/sf0.01", "documents")
    assert _round_robin_exchanges(fanned) == 1
    # a real multi-split input: a table scanned in at least one split per
    # core gets no repartition
    (spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
     .repartition(cores).write.parquet(str(tmp_path / "wide.parquet")))
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "4096")
    try:
        wide = read_table(spark, str(tmp_path), "wide")
        assert wide.rdd.getNumPartitions() >= cores
        assert _round_robin_exchanges(wide) == 0
    finally:
        spark.conf.set(key, old)


def test_read_table_sizes_partitioned_dirs_recursively(spark, tmp_path):
    """A nested partitionBy layout is sized over every file, not just the
    top level, from Spark's own file-index statistic."""
    from document_processor_spark.operators._scan import read_table
    path = tmp_path / "documents.parquet"
    (spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
     .write.partitionBy("source", "lang").parquet(str(path)))
    files = list(path.rglob("*.parquet"))
    assert files and all(f.parent.parent.parent == path for f in files)
    on_disk = sum(f.stat().st_size for f in files)
    assert pipeline._plan_size_bytes(spark.read.parquet(str(path))) == on_disk
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    # every byte counts: one split per core exactly fits the whole tree
    cores = spark.sparkContext.defaultParallelism
    spark.conf.set(key, str(on_disk // cores))
    try:
        assert _round_robin_exchanges(read_table(spark, str(tmp_path),
                                                 "documents")) == 0
    finally:
        spark.conf.set(key, old)


# -- double-eval pins (lsh_recall / fuzzy_decontaminate / prefix_jaccard) ----
#
# Each of these queries has an intermediate frame consumed by >= 2 plan
# branches; the r6 pin (lazy localCheckpoint) makes the expensive build run
# ONCE.  Value equality vs the DuckDB oracle is pinned by the session-5/13
# oracle tests; here we pin the plan shape: the final physical plan reads
# the pinned frames as RDD scans (RDDScanExec) and no longer contains the
# duplicated expensive subtrees.

def test_fuzzy_decontaminate_sig_build_runs_once(spark):
    from document_processor_spark.operators import curation
    df = curation.q_cur_fuzzy_decontaminate(spark, "/root/testdata/sf0.001")
    assert _count_nodes(df, "RDDScanExec") >= 1   # the sigs pin
    assert _count_exprs(df, "Md5") == 0           # sig build behind the pin


def test_lsh_recall_truth_and_lsh_build_run_once(spark):
    from document_processor_spark.operators import dedup
    df = dedup.q_dedup_lsh_recall(spark, "/root/testdata/sf0.001")
    assert _count_nodes(df, "RDDScanExec") >= 1   # truth + lsh pins
    # the quadratic truth verify (array_intersect) and every base-table
    # scan sit behind pins now.  (An md5 eval-hash filter can still appear
    # ABOVE a pinned scan: LogicalRDD carries the child's constraints, and
    # InferFiltersFromConstraints re-materializes the lsh filter on the
    # truth side of the n_hit join — a per-pair-row predicate over the
    # tiny pinned set, not a recompute.)
    assert _count_exprs(df, "ArrayIntersect") == 0
    assert _count_nodes(df, "FileSourceScanExec", "BatchScanExec") == 0


def test_prefix_jaccard_prefix_index_built_once(spark):
    from document_processor_spark.operators import dedup
    df = dedup.q_dedup_prefix_jaccard(spark, "/root/testdata/sf0.001")
    assert _count_nodes(df, "RDDScanExec") >= 1   # the prefix pin
    # the rarity sort (collect_list over dfreq-joined postings) runs once,
    # behind the pin — not once per side of the candidate self-join
    assert _count_exprs(df, "CollectList") == 0


# -- zero-exchange extract path ----------------------------------------------

def test_extract_prepartitioned_input_equals_repartition_path(spark):
    docs = fixtures.corpus_df(spark, 0.001, n_partitions=4)
    clustered = docs.repartition(8, "doc_id").persist()
    try:
        clustered.count()
        rows = pipeline.explode_spans(clustered)
        assert pipeline._clustered_by_doc(rows)
        out_a = pipeline.extract_documents(clustered, engine="sql") \
            .orderBy("doc_id").collect()
        out_b = pipeline.extract_documents(docs, engine="sql") \
            .orderBy("doc_id").collect()
        assert out_a == out_b
        # the zero-exchange claim: the extract itself adds no exchange on
        # top of the cached, pre-partitioned input (the cache's own build
        # plan keeps its repartition, but it is not a child of the scan)
        extract = pipeline.extract_documents(clustered, engine="sql")
        assert _count_nodes(extract, "InMemoryTableScanExec") >= 1
        assert _count_nodes(extract, "ShuffleExchangeExec",
                            "BroadcastExchangeExec",
                            "ReusedExchangeExec") == 0
    finally:
        clustered.unpersist()
