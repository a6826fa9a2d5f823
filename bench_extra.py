#!/usr/bin/env python
"""Extra benchmarks for the optimization round (bench.py is frozen for
measurement; this file holds the guide §1.4 noop-sink isolation probes).

Usage:
    SPARK_GRAFT_CPUS=32 python bench_extra.py extract   # extract sub-plans
    SPARK_GRAFT_CPUS=32 python bench_extra.py ops       # the 5 operator queries
    SPARK_GRAFT_CPUS=32 python bench_extra.py minhash   # minhash sub-plans
    SPARK_GRAFT_CPUS=32 python bench_extra.py cosine    # cosine-lsh sub-plans

Methodology matches bench.py: plateau warm-up (JIT), then min-of-N on the
noop sink, job descriptions set per probe.
"""
from __future__ import annotations

import os
import sys
import time

from pyspark.sql import functions as F


def build(cpus):
    from document_processor_spark.session import build_spark
    return build_spark(app="bench-extra", cores=cpus,
                       shuffle_partitions=max(cpus * 8, 64), pretouch=True)


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def timed(spark, name, fn, warm=3, reps=5):
    spark.sparkContext.setJobDescription(name)
    for _ in range(warm):
        fn()
    runs = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        runs.append(round(time.perf_counter() - t0, 3))
    spark.sparkContext.setJobDescription(None)
    print(f"{name:42s} min={min(runs):6.3f}s  runs={runs}", flush=True)
    return min(runs)


def corpus_build(spark, cpus, rep=10, sf=0.1):
    from document_processor_spark import fixtures
    base = fixtures.corpus_df(spark, sf, n_partitions=max(cpus, 16))
    c = (base.crossJoin(spark.range(rep).select(F.col("id").alias("rep")))
         .select(F.concat_ws("#", "doc_id", "rep").alias("doc_id"), "spans")
         .repartition(max(cpus * 2, 16), "doc_id")
         .persist())
    c.count()
    return c


def main():
    which = sys.argv[1] if len(sys.argv) > 1 else "extract"
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = build(cpus)

    if which == "extract":
        from document_processor_spark import pipeline
        corpus = corpus_build(spark, cpus)
        exploded = pipeline.explode_spans(corpus)
        parsed = pipeline.parse_sql(exploded)
        full = pipeline.extract_documents(corpus, engine="sql")
        full_arrow = pipeline.extract_documents(corpus, engine="arrow")

        timed(spark, "explode only", lambda: noop(pipeline.explode_spans(corpus)))
        timed(spark, "explode+repart (no parse exprs)",
              lambda: noop(pipeline.explode_spans(corpus)
                           .repartition(pipeline._parse_partitions(
                               pipeline.explode_spans(corpus)),
                               "doc_id", "page")))
        timed(spark, "explode+repart+parse_sql",
              lambda: noop(pipeline.parse_sql(pipeline.explode_spans(corpus))))
        timed(spark, "..+assemble (full, sql)",
              lambda: noop(pipeline.extract_documents(corpus, engine="sql")))
        timed(spark, "..+assemble (full, arrow)",
              lambda: noop(pipeline.extract_documents(corpus, engine="arrow")))

    elif which == "ops":
        from document_processor_spark.operators import (ann, dedup, relational,
                                                        text_analysis)
        timed(spark, "dedup_minhash_lsh (count)",
              lambda: dedup.q_dedup_minhash_lsh(spark, sf_dir).count())
        timed(spark, "dedup_embedding_cosine_lsh (count)",
              lambda: dedup.q_dedup_embedding_cosine_lsh(spark, sf_dir).count())
        timed(spark, "ann_bruteforce_topk (count)",
              lambda: ann.q_ann_bruteforce_topk(spark, sf_dir).count())
        timed(spark, "ta_quality (agg)",
              lambda: text_analysis.q_quality(spark, sf_dir)
              .agg(F.sum("n_words")).collect())
        timed(spark, "rel_pricing_summary (collect)",
              lambda: relational.q_pricing_summary(spark, sf_dir).collect())

    elif which == "minhash":
        from document_processor_spark.operators import dedup
        d = dedup._docs(spark, sf_dir)

        def sh_only():
            sh = (d.select("doc_id", dedup._shingles_col().alias("shingles"))
                  .filter(F.size("shingles") > 0))
            noop(sh)

        def sig_only():
            sh = (d.select("doc_id", dedup._shingles_col().alias("shingles"))
                  .filter(F.size("shingles") > 0))
            sig = (sh.withColumn("xs", dedup._shingle_ints_col())
                   .select("doc_id",
                           F.explode(dedup._band_sigs_col()).alias("bs")))
            noop(sig)

        timed(spark, "docs scan+repart+shingles", sh_only)
        timed(spark, "..+band sigs", sig_only)
        timed(spark, "full minhash (count)",
              lambda: dedup.q_dedup_minhash_lsh(spark, sf_dir).count())

    elif which == "cosine":
        from document_processor_spark.operators import dedup
        from document_processor_spark.operators._scan import read_table
        e_raw = read_table(spark, sf_dir, "embeddings")

        def sig_only():
            e = (e_raw.select("vec_id", dedup._dbl("embedding").alias("v"))
                 .withColumn("nrm", dedup._norm(F.col("v"))))
            sig = e.select(
                "vec_id", "v", "nrm",
                F.explode(F.array(*[
                    F.struct(F.lit(t).alias("t"),
                             dedup._bucket_expr(F.col("v"), t).alias("bucket"))
                    for t in range(dedup.N_TABLES)])).alias("tb"))
            noop(sig)

        timed(spark, "emb scan+norm+bucket sigs", sig_only)
        timed(spark, "full cosine lsh (count)",
              lambda: dedup.q_dedup_embedding_cosine_lsh(spark, sf_dir).count())

    return 0


if __name__ == "__main__":
    sys.exit(main())
