"""Approximate-nearest-neighbor search over the embedding column.

Baseline: brute-force cosine top-k (exact) — window rank over the
query×corpus score matrix.  Scale path: random-hyperplane LSH bucketing —
each vector hashes to a small signature; only same-bucket pairs are scored,
so the join is bucket-local (shuffle on the bucket key, AQE splits hot
buckets).  At 100 TB the corpus side would additionally be IVF-partitioned
by coarse centroid; the bucket-join shape below is the same.

Determinism: hyperplanes are a fixed integer pattern (no RNG), cosine is an
exact-order double fold, ranks tie-break on vec_id — bit-identical with the
DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ._scan import read_table
from .dedup import (_CAT_NORM, _CAT_V, _SQL_DOT, _SQL_NORM, _bucket_expr,
                    _cat_cos, _dbl, _desc_then_id, _dot, _norm, _sql_bucket)

TOP_K = 5
QUERY_MOD = 50          # vec_id % 50 == 0 → query set


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    # norm materialized once per vector (never recomputed per candidate
    # pair); single-parse SQL strings per the r6 build-cost note in dedup
    return (read_table(spark, sf_dir, "embeddings")
            .selectExpr("vec_id", _CAT_V)
            .selectExpr("vec_id", "v", _CAT_NORM.format(a="v") + " AS nrm"))


def q_ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") % QUERY_MOD == 0) \
         .select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
                 F.col("nrm").alias("qnrm"))
    # corpus side is the big side; the query side broadcasts
    pairs = (e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
             .select("query_id", "vec_id",
                     _cat_cos("qv", "v", "qnrm", "nrm").alias("cos")))
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (pairs.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOP_K)
            .select("query_id", "vec_id",
                    F.col("rank").cast("bigint").alias("rank"),
                    F.round("cos", 6).alias("cosine")))


SQL_ANN_BRUTEFORCE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                  {_SQL_NORM.format(a="(embedding::DOUBLE[])")} AS nrm
           FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM e
      WHERE vec_id % {QUERY_MOD} = 0),
pairs AS (
  SELECT q.query_id, e.vec_id,
         {_SQL_DOT.format(a="q.qv", b="e.v")} / (q.qnrm * e.nrm) AS cos
  FROM e JOIN q ON e.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, vec_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, vec_id) AS rank
  FROM pairs
)
SELECT query_id, vec_id, rank, round(cos, 6) AS cosine
FROM ranked WHERE rank <= {TOP_K}
"""


# -- filtered (metadata-constrained) search ----------------------------------------

def q_ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered ANN — each query retrieves top-k among corpus vectors
    sharing its OWN label (same-category retrieval, the metadata-
    constrained search every production vector store must answer).  The
    Spark-first move: an equality metadata constraint belongs IN THE JOIN
    KEY, so the candidate join is equi on label and each query scores
    only its label partition — the corpus never fans out to the full
    query set.  This is PRE-filtering; the classic post-filter pitfall
    (probe an unfiltered index, then drop non-matching survivors and
    return fewer than k) cannot happen by construction.

    Scale shape: at 100 TB the corpus is bucketed/partitioned by label,
    so the scan prunes to matching partitions before any distance math
    (partition pruning on the join key); the bounded query side
    broadcasts; the rank window is per-query bounded.  cosine ships
    floor-quantized to 1e-6 integer units."""
    raw = (read_table(spark, sf_dir, "embeddings")
           .selectExpr("vec_id", "label", _CAT_V)
           .selectExpr("vec_id", "label", "v",
                       _CAT_NORM.format(a="v") + " AS nrm"))
    qs = (raw.filter(F.col("vec_id") % QUERY_MOD == 0)
          .select(F.col("vec_id").alias("query_id"), "label",
                  F.col("v").alias("qv"), F.col("nrm").alias("qnrm")))
    pairs = (raw.join(F.broadcast(qs), "label")
             .filter(F.col("vec_id") != F.col("query_id"))
             .select("query_id", "label", "vec_id",
                     _cat_cos("qv", "v", "qnrm", "nrm").alias("cos")))
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (pairs.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOP_K)
            .select("query_id",
                    F.col("label").cast("bigint").alias("label"),
                    "vec_id",
                    F.col("rank").cast("bigint").alias("rank"),
                    F.floor(F.col("cos") * 1000000).cast("bigint")
                    .alias("cos_q")))


SQL_ANN_FILTERED = f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v,
                  {_SQL_NORM.format(a="(embedding::DOUBLE[])")} AS nrm
           FROM embeddings),
q AS (SELECT vec_id AS query_id, label, v AS qv, nrm AS qnrm FROM e
      WHERE vec_id % {QUERY_MOD} = 0),
pairs AS (
  SELECT q.query_id, e.label, e.vec_id,
         {_SQL_DOT.format(a="q.qv", b="e.v")} / (q.qnrm * e.nrm) AS cos
  FROM e JOIN q ON e.label = q.label AND e.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, label, vec_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, vec_id) AS rank
  FROM pairs
)
SELECT query_id, CAST(label AS BIGINT) AS label, vec_id,
       CAST(rank AS BIGINT) AS rank,
       CAST(floor(cos * 1000000) AS BIGINT) AS cos_q
FROM ranked WHERE rank <= {TOP_K}
"""


# -- LSH-bucketed variant ---------------------------------------------------------

def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed ANN: candidates restricted to the query's LSH bucket, then
    exact cosine rank within bucket."""
    e = _emb(spark, sf_dir).withColumn("bucket", _bucket_expr(F.col("v"), 0))
    q = e.filter(F.col("vec_id") % QUERY_MOD == 0) \
         .select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
                 F.col("nrm").alias("qnrm"), F.col("bucket"))
    pairs = (e.join(F.broadcast(q), "bucket")
             .filter(F.col("vec_id") != F.col("query_id"))
             .select("query_id", "vec_id",
                     _cat_cos("qv", "v", "qnrm", "nrm").alias("cos")))
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (pairs.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOP_K)
            .select("query_id", "vec_id",
                    F.col("rank").cast("bigint").alias("rank"),
                    F.round("cos", 6).alias("cosine")))


SQL_ANN_LSH = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         {_sql_bucket("(embedding::DOUBLE[])", 0)} AS bucket,
         {_SQL_NORM.format(a="(embedding::DOUBLE[])")} AS nrm
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, v AS qv, bucket, nrm AS qnrm FROM e
      WHERE vec_id % {QUERY_MOD} = 0),
pairs AS (
  SELECT q.query_id, e.vec_id,
         {_SQL_DOT.format(a="q.qv", b="e.v")} / (q.qnrm * e.nrm) AS cos
  FROM e JOIN q USING (bucket) WHERE e.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, vec_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, vec_id) AS rank
  FROM pairs
)
SELECT query_id, vec_id, rank, round(cos, 6) AS cosine
FROM ranked WHERE rank <= {TOP_K}
"""


# -- IVF-partitioned variant --------------------------------------------------------

CENT_MOD = 31           # vec_id % 31 == 0 → coarse centroid (deterministic)
N_PROBE = 4             # cells probed per query


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN — the 100 TB scale path: the corpus is partitioned into
    coarse cells (nearest centroid by cosine); each query probes only its
    N_PROBE nearest cells, so scored candidates are bounded by
    nprobe × cell size, never the corpus.  Centroids are a deterministic
    sample (vec_id % CENT_MOD == 0), collected into a one-row sorted
    array and broadcast — cell assignment is a NARROW per-row argmin
    (transform + array_sort over (ccos, cent_id) structs, the same
    exact-order folds and tie-break the former row_number window used),
    so zero shuffle touches the corpus until the candidate join, and the
    probe side (queries × N_PROBE rows) is small enough to broadcast:
    the rank window over bounded candidates is the only shuffle.  At
    real scale the centroid set comes from a KMeans sketch (K
    codebook-sized, so the one-row array stays broadcastable); the
    dataflow is identical."""
    e = _emb(spark, sf_dir)
    carr = (e.filter(F.col("vec_id") % CENT_MOD == 0)
            .select(F.col("vec_id").alias("cent_id"), F.col("v").alias("cv"),
                    F.col("nrm").alias("cnrm"))
            .groupBy()
            .agg(F.array_sort(F.collect_list(
                F.struct("cent_id", "cv", "cnrm"))).alias("carr")))

    def nearest_cells(side: DataFrame, id_col: str, n: int) -> DataFrame:
        scored = F.transform(
            "carr",
            lambda c: F.struct(
                (_dot(F.col("v"), c["cv"])
                 / (F.col("nrm") * c["cnrm"])).alias("ccos"),
                c["cent_id"].alias("cent_id")))
        near = F.slice(F.array_sort(scored, _desc_then_id("ccos")), 1, n)
        # explode (a generator) pins ONE evaluation of the scored array —
        # a plain projection risks CollapseProject duplicating the fold
        return (side.crossJoin(F.broadcast(carr))
                .select(id_col, "v", "nrm", F.explode(near).alias("nc"))
                .select(id_col, "v", "nrm",
                        F.col("nc")["cent_id"].alias("cent_id")))

    assigned = nearest_cells(e, "vec_id", 1)
    q = (e.filter(F.col("vec_id") % QUERY_MOD == 0)
         .select(F.col("vec_id").alias("query_id"), "v", "nrm"))
    probes = nearest_cells(q, "query_id", N_PROBE) \
        .select("query_id", F.col("v").alias("qv"), F.col("nrm").alias("qnrm"),
                "cent_id")
    pairs = (assigned.join(F.broadcast(probes), "cent_id")
             .filter(F.col("vec_id") != F.col("query_id"))
             .select("query_id", "vec_id",
                     (_dot(F.col("qv"), F.col("v"))
                      / (F.col("qnrm") * F.col("nrm"))).alias("cos")))
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (pairs.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOP_K)
            .select("query_id", "vec_id",
                    F.col("rank").cast("bigint").alias("rank"),
                    F.round("cos", 6).alias("cosine")))


SQL_ANN_IVF = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                  {_SQL_NORM.format(a="(embedding::DOUBLE[])")} AS nrm
           FROM embeddings),
cents AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM e
          WHERE vec_id % {CENT_MOD} = 0),
assigned AS (
  SELECT vec_id, v, nrm, cent_id FROM (
    SELECT e.vec_id, e.v, e.nrm, c.cent_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_SQL_DOT.format(a="e.v", b="c.cv")} / (e.nrm * c.cnrm) DESC,
                      c.cent_id) AS crank
    FROM e CROSS JOIN cents c)
  WHERE crank <= 1
),
probes AS (
  SELECT query_id, qv, qnrm, cent_id FROM (
    SELECT q.vec_id AS query_id, q.v AS qv, q.nrm AS qnrm, c.cent_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {_SQL_DOT.format(a="q.v", b="c.cv")} / (q.nrm * c.cnrm) DESC,
                      c.cent_id) AS crank
    FROM e q CROSS JOIN cents c WHERE q.vec_id % {QUERY_MOD} = 0)
  WHERE crank <= {N_PROBE}
),
pairs AS (
  SELECT p.query_id, a.vec_id,
         {_SQL_DOT.format(a="p.qv", b="a.v")} / (p.qnrm * a.nrm) AS cos
  FROM assigned a JOIN probes p USING (cent_id)
  WHERE a.vec_id <> p.query_id
),
ranked AS (
  SELECT query_id, vec_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, vec_id) AS rank
  FROM pairs
)
SELECT query_id, vec_id, rank, round(cos, 6) AS cosine
FROM ranked WHERE rank <= {TOP_K}
"""


# -- trained coarse quantizer: Lloyd's k-means, exact oracle ---------------------
#
# q_ann_ivf_topk samples its centroids; this operator TRAINS them — the
# "KMeans sketch" its docstring defers to.  Determinism discipline, the
# reason an iterative float algorithm can carry an exact DuckDB oracle:
#
# * vectors are quantized once to int64 (floor(x * 1e6)) — the centroid
#   update then reduces per-dimension INTEGER sums, which are associative
#   and commutative, so Spark's partial aggregation order cannot change
#   the result (a double sum across partitions would);
# * centroid components are exact ratios sum/count evaluated in double
#   (one division — deterministic IEEE, same inputs both engines);
# * distances are left-to-right double folds (F.aggregate ≡ list_reduce),
#   ties broken on cent_id.
#
# Scale shape per iteration: one broadcast of K centroids (assignment is
# map-side), one (cent_id, dim) partial-aggregated shuffle of integer
# sums — the canonical mergeable-reduction KMeans on 10^12 rows.

KMEANS_ITERS = 2
_QUANT = 1_000_000.0


def _kmeans_assign(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, xq, cent_id): nearest centroid by squared L2, exact-order
    fold, ties to the lowest cent_id.  Narrow argmin over the one-row
    broadcast centroid array — assignment is map-side, zero shuffle; the
    (dist, cent_id) struct array_min reproduces the former window's
    ORDER BY dist, cent_id exactly (natural struct ordering)."""
    karr = cents.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("cent_id", "cd"))).alias("karr"))
    scored = F.transform(
        "karr",
        lambda c: F.struct(
            F.aggregate(
                F.zip_with(F.col("xq"), c["cd"],
                           lambda a, b: (a - b) * (a - b)),
                F.lit(0.0), lambda acc, x: acc + x).alias("dist"),
            c["cent_id"].alias("cent_id")))
    # explode of the 1-element slice pins ONE evaluation of the fold
    # array; slice (not array(array_min)) so an empty centroid set yields
    # ZERO rows — the old crossJoin behavior — not one NULL-keyed row
    return (vecs.crossJoin(F.broadcast(karr))
            .select("vec_id", "xs", "xq",
                    F.explode(
                        F.slice(F.array_sort(scored), 1, 1)).alias("nc"))
            .select("vec_id", "xs", "xq",
                    F.col("nc")["cent_id"].alias("cent_id"),
                    F.col("nc")["dist"].alias("dist")))


def _quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, xs, xq): embeddings scaled by _QUANT to exact integers
    (associative bigint sums — reproducible across partitionings), plus
    the double view the distance folds consume."""
    e = (read_table(spark, sf_dir, "embeddings")
         .select("vec_id",
                 F.transform(
                     "embedding",
                     lambda x: F.floor(x.cast("double") * F.lit(_QUANT))
                     .cast("bigint")).alias("xs")))
    return e.withColumn("xq", F.transform("xs", lambda x: x.cast("double")))


def _train_centroids(e: DataFrame, iters: int) -> DataFrame:
    """`iters` Lloyd rounds from the deterministic CENT_MOD seed set ->
    (cent_id, cd).  Means are computed from the integer sums so the
    update is order-independent; position order is restored by
    array_sort on (pos, s, n) structs."""
    cents = (e.filter(F.col("vec_id") % CENT_MOD == 0)
             .select(F.col("vec_id").alias("cent_id"),
                     F.col("xq").alias("cd")))
    for _ in range(iters):
        assigned = _kmeans_assign(e, cents)
        sums = (assigned
                .select("cent_id", F.posexplode("xs").alias("pos", "val"))
                .groupBy("cent_id", "pos")
                .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n")))
        cents = (sums.groupBy("cent_id")
                 .agg(F.array_sort(
                     F.collect_list(F.struct("pos", "s", "n"))).alias("ps"))
                 .select("cent_id",
                         F.transform(
                             "ps", lambda p: p["s"].cast("double") / p["n"])
                         .alias("cd")))
    return cents


def q_ann_kmeans_train(spark: SparkSession, sf_dir: str,
                       iters: int = KMEANS_ITERS) -> DataFrame:
    """`iters` Lloyd iterations from the deterministic CENT_MOD seed
    set; returns the final assignment (vec_id, cent_id, dist) — the
    trained coarse quantizer ann_ivf_topk's dataflow plugs in unchanged."""
    e = _quantized(spark, sf_dir)
    cents = _train_centroids(e, iters)
    final = _kmeans_assign(e, cents)
    # integer-quantized distance (floor(dist*1e4) as BIGINT): round-on-double
    # diverges between Spark's HALF_UP BigDecimal rounding and DuckDB at
    # decimal-boundary ulps; floor quantization is bit-exact on both engines
    return final.select("vec_id", "cent_id",
                        F.floor(F.col("dist") * 10000)
                        .cast("long").alias("dist"))


def q_ann_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k over the TRAINED coarse quantizer — proof that the
    k-means output plugs into the probe dataflow unchanged: cells from
    KMEANS_ITERS Lloyd rounds, queries probe their N_PROBE nearest
    trained cells (L2, consistent with the training objective), and
    candidates are scored by exact-order cosine on the quantized
    vectors.  Same scale shape as ann_ivf_topk: broadcast centroids,
    candidates bounded by nprobe x cell."""
    e = _quantized(spark, sf_dir).withColumn("nrm", _norm(F.col("xq")))
    karr = _train_centroids(e, KMEANS_ITERS).groupBy().agg(
        F.array_sort(F.collect_list(F.struct("cent_id", "cd"))).alias("karr"))

    def cells(side: DataFrame, id_col: str, n: int) -> DataFrame:
        scored = F.transform(
            "karr",
            lambda c: F.struct(
                F.aggregate(
                    F.zip_with(F.col("xq"), c["cd"],
                               lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0), lambda acc, x: acc + x).alias("cdist"),
                c["cent_id"].alias("cent_id")))
        # narrow argmin (natural (cdist, cent_id) struct sort ≡ the former
        # ORDER BY cdist, cent_id window); explode pins one evaluation
        return (side.crossJoin(F.broadcast(karr))
                .select(id_col, "xq", "nrm",
                        F.explode(
                            F.slice(F.array_sort(scored), 1, n)).alias("nc"))
                .select(id_col, "xq", "nrm",
                        F.col("nc")["cent_id"].alias("cent_id")))

    corpus = cells(e, "vec_id", 1)
    q = (e.filter(F.col("vec_id") % QUERY_MOD == 0)
         .select(F.col("vec_id").alias("query_id"), "xq", "nrm"))
    probes = cells(q, "query_id", N_PROBE).select(
        "query_id", F.col("xq").alias("qv"), F.col("nrm").alias("qnrm"),
        "cent_id")
    pairs = (corpus.join(F.broadcast(probes), "cent_id")
             .filter(F.col("vec_id") != F.col("query_id"))
             .select("query_id", "vec_id",
                     (_dot(F.col("qv"), F.col("xq"))
                      / (F.col("qnrm") * F.col("nrm"))).alias("cos")))
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (pairs.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOP_K)
            .select("query_id", "vec_id",
                    F.col("rank").cast("bigint").alias("rank"),
                    F.round("cos", 6).alias("cosine")))


# squared-L2 fold shared by every kmeans/IVF SQL oracle below — the same
# exact-order list_reduce the Spark side's F.aggregate performs
_SQL_SQDIST = ("list_reduce(list_transform(generate_series(1, len({a})), "
               "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), (x, y) -> x + y)")


def _sql_lloyd_assign(cent_rel: str) -> str:
    """One Lloyd assignment CTE: each vector to its nearest centroid
    (ties to the lowest cent_id) — only the columns update() needs."""
    return f"""
  SELECT vec_id, xs, cent_id FROM (
    SELECT v.vec_id, v.xs, c.cent_id,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY {_SQL_SQDIST.format(a="v.xq", b="c.cd")}, c.cent_id) AS r
    FROM eq v CROSS JOIN {cent_rel} c)
  WHERE r = 1"""


def _sql_lloyd_update(assigned_rel: str) -> str:
    """One Lloyd update CTE: integer-sum means per centroid."""
    return f"""
  SELECT cent_id,
         list(CAST(s AS DOUBLE) / n ORDER BY pos) AS cd
  FROM (
    SELECT cent_id, i AS pos, sum(xs[i]) AS s, count(*) AS n
    FROM {assigned_rel}, unnest(generate_series(1, len(xs))) t(i)
    GROUP BY cent_id, i)
  GROUP BY cent_id"""


def _sql_lloyd_chain(sql: str) -> tuple[str, str]:
    """Append KMEANS_ITERS assign/update CTE pairs (over `eq`, seeded by
    `c0`); returns (sql, name of the final centroid relation)."""
    prev = "c0"
    for it in range(KMEANS_ITERS):
        sql += f",\na{it} AS ({_sql_lloyd_assign(prev)}\n)"
        sql += f",\nc{it + 1} AS ({_sql_lloyd_update(f'a{it}')}\n)"
        prev = f"c{it + 1}"
    return sql, prev


def _sql_kmeans() -> str:
    def assign(cent_rel: str) -> str:
        return f"""
  SELECT vec_id, cent_id, dist FROM (
    SELECT v.vec_id, c.cent_id,
           {_SQL_SQDIST.format(a="v.xq", b="c.cd")} AS dist,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY {_SQL_SQDIST.format(a="v.xq", b="c.cd")}, c.cent_id) AS r
    FROM eq v CROSS JOIN {cent_rel} c)
  WHERE r = 1"""

    sql = f"""
WITH e AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * {_QUANT}) AS BIGINT)) AS xs
  FROM embeddings),
eq AS (
  SELECT vec_id, xs, list_transform(xs, x -> CAST(x AS DOUBLE)) AS xq
  FROM e),
c0 AS (SELECT vec_id AS cent_id, xq AS cd FROM eq
       WHERE vec_id % {CENT_MOD} = 0)"""
    sql, prev = _sql_lloyd_chain(sql)
    sql += f""",
final AS ({assign(prev)}
)
SELECT vec_id, cent_id, CAST(floor(dist * 10000) AS BIGINT) AS dist FROM final
"""
    return sql


def _sql_ivf_trained() -> str:
    def assign(n: int, id_expr: str, where: str = "") -> str:
        return f"""
  SELECT {id_expr} AS id, xq, nrm, cent_id FROM (
    SELECT v.vec_id, v.xq, v.nrm, c.cent_id,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY {_SQL_SQDIST.format(a="v.xq", b="c.cd")}, c.cent_id) AS r
    FROM eq v CROSS JOIN ck c {where})
  WHERE r <= {n}"""

    sql = f"""
WITH e AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * {_QUANT}) AS BIGINT)) AS xs
  FROM embeddings),
eq AS (
  SELECT vec_id, xs, list_transform(xs, x -> CAST(x AS DOUBLE)) AS xq,
         {_SQL_NORM.format(a="list_transform(xs, x -> CAST(x AS DOUBLE))")}
           AS nrm
  FROM e),
c0 AS (SELECT vec_id AS cent_id, xq AS cd FROM eq
       WHERE vec_id % {CENT_MOD} = 0)"""
    sql, prev = _sql_lloyd_chain(sql)
    sql += f""",
ck AS (SELECT * FROM {prev}),
corpus AS ({assign(1, 'vec_id')}
),
probes AS ({assign(N_PROBE, 'vec_id', f'WHERE v.vec_id % {QUERY_MOD} = 0')}
),
pairs AS (
  SELECT p.id AS query_id, a.id AS vec_id,
         {_SQL_DOT.format(a="p.xq", b="a.xq")} / (p.nrm * a.nrm) AS cos
  FROM corpus a JOIN probes p USING (cent_id)
  WHERE a.id <> p.id
),
ranked AS (
  SELECT query_id, vec_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, vec_id) AS rank
  FROM pairs
)
SELECT query_id, vec_id, rank, round(cos, 6) AS cosine
FROM ranked WHERE rank <= {TOP_K}
"""
    return sql


# -- product quantization: PQ codes + ADC top-k ------------------------------
#
# Product quantization (Jégou et al., "Product Quantization for Nearest
# Neighbor Search", TPAMI 2011) — the memory side of the real 100 TB ANN
# stack (FAISS's IVF-PQ): each vector is split into PQ_M subvectors, each
# subvector quantized to the nearest codeword of a per-subspace codebook,
# so a 64-dim float vector compresses to PQ_M small codes; queries score
# candidates with Asymmetric Distance Computation — a per-query table of
# query-subvector→codeword distances, candidate distance = M table
# lookups instead of a 64-dim dot product.
#
# Spark-first shape, and why it scales:
# * the codebook is ONE broadcast row (PQ_M nested lists of codewords,
#   deterministically sampled vec_id % PQ_SEED_MOD — the trained variant
#   would run the same per-subspace Lloyd loop as ann_kmeans_train);
# * ENCODING is map-side only: crossJoin with the 1-row broadcast, codes
#   via narrow argmin folds (array_position of the array_min) — zero
#   shuffle to encode 10^12 vectors, and the output (vec_id, PQ_M codes)
#   is the compressed index a sink would persist;
# * ADC scoring broadcasts the per-query distance tables (Q × M × K
#   doubles, tiny) over one corpus-codes scan; the rank window is the
#   only shuffle.  All folds are exact-order doubles, ties break on code
#   index / vec_id, so the DuckDB oracle is bit-identical.

PQ_M = 8            # subspaces (64-dim embeddings -> 8 dims each)
PQ_SUB = 8          # dims per subvector
PQ_SEED_MOD = 7     # vec_id % PQ_SEED_MOD == 0 -> codeword source vectors
# Recall note: the fixture embeddings are near-uniform random — PQ's
# worst case (no per-subspace cluster structure), so recall@5 vs exact
# L2 sits near 0.2-0.3 here (pinned by the test canary); on real
# embedding manifolds, and with Lloyd-trained codebooks (the same loop
# as ann_kmeans_train run per subspace), published recall is far higher.
# The operator's contract is the compression + ADC dataflow and its
# bit-exact oracle, not the synthetic recall number.


def _sqdist(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                       F.lit(0.0), lambda acc, x: acc + x)


def _pq_subspaces():
    """sequence 0..PQ_M-1 as the outer loop of every PQ expression.

    Structure warning: the per-subspace slices MUST be driven by a real
    lambda VARIABLE (transform over this sequence), never by sibling
    lambdas that differ only in a captured Python constant.  Spark 4.1
    mis-binds F.array(transform(.., m=0), transform(.., m=1), ...) —
    element k of every transform takes sibling k's constant, and
    project-collapse re-creates the broken shape even when the siblings
    start in separate projected columns (pinned by
    test_pq_lambda_sibling_isolation)."""
    return F.sequence(F.lit(0), F.lit(PQ_M - 1))


def _pq_codebook(e: DataFrame) -> DataFrame:
    """One row: cbs[m][k] = subvector m of the k-th seed vector (seeds
    ordered by vec_id) — the per-subspace codebooks, broadcast-ready."""
    agg = (e.filter(F.col("vec_id") % PQ_SEED_MOD == 0)
           .groupBy()
           .agg(F.array_sort(
               F.collect_list(F.struct("vec_id", "v"))).alias("sv")))
    cbs = F.transform(
        _pq_subspaces(),
        lambda m: F.transform(
            "sv", lambda s: F.slice(s["v"], m * PQ_SUB + 1, F.lit(PQ_SUB))))
    return agg.select(cbs.alias("cbs"))


def _pq_dtab():
    """dtab[m][k] = sq-L2 of the row's m-th subvector to codeword k — one
    nested-lambda tree (see _pq_subspaces' structure warning)."""
    return F.transform(
        _pq_subspaces(),
        lambda m: F.transform(
            F.element_at("cbs", m + 1),
            lambda cw: _sqdist(
                F.slice(F.col("v"), m * PQ_SUB + 1, F.lit(PQ_SUB)), cw)))


def _pq_codes():
    return F.transform(_pq_dtab(),
                       lambda ds: F.array_position(ds, F.array_min(ds)))


def _pq_adc():
    """M table lookups, summed left-to-right — the ADC distance."""
    adc = None
    for m in range(PQ_M):
        term = F.element_at(F.element_at("dtab", m + 1),
                            F.element_at("codes", m + 1).cast("int"))
        adc = term if adc is None else adc + term
    return adc


def _pq_rank(pairs: DataFrame) -> DataFrame:
    w = W.partitionBy("query_id").orderBy("adc", "vec_id")
    return (pairs.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOP_K)
            .select("query_id", "vec_id",
                    F.col("rank").cast("bigint").alias("rank"),
                    F.round("adc", 6).alias("adc_dist")))


def q_ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir).select("vec_id", "v")
    cb = _pq_codebook(e)
    enc = (e.crossJoin(F.broadcast(cb))
           .select("vec_id", _pq_codes().alias("codes")))
    q = (e.filter(F.col("vec_id") % QUERY_MOD == 0)
         .crossJoin(F.broadcast(cb))
         .select(F.col("vec_id").alias("query_id"), _pq_dtab().alias("dtab")))
    pairs = (enc.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
             .select("query_id", "vec_id", _pq_adc().alias("adc")))
    return _pq_rank(pairs)


def _pq_sql_sub(v: str, m: int) -> str:
    return f"{v}[{m * PQ_SUB + 1}:{(m + 1) * PQ_SUB}]"


def _pq_sql_sq(a: str, b: str) -> str:
    return ("list_reduce(list_transform(generate_series(1, len({a})), "
            "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), "
            "(x, y) -> x + y)").format(a=a, b=b)


def _pq_sql_ds(m: int) -> str:
    return (f"list_transform(cbs[{m + 1}], "
            f"cw -> {_pq_sql_sq(_pq_sql_sub('v', m), 'cw')})")


def _pq_sql_parts() -> dict[str, str]:
    cbs = ", ".join(f"list_transform(sv, s -> {_pq_sql_sub('s.v', m)})"
                    for m in range(PQ_M))
    cb_cte = (f"cb AS (\n  SELECT [{cbs}] AS cbs\n"
              "  FROM (SELECT list({'vec_id': vec_id, 'v': v} "
              "ORDER BY vec_id) AS sv\n"
              f"        FROM e WHERE vec_id % {PQ_SEED_MOD} = 0))")
    return {
        "codes": ", ".join(
            f"list_position({_pq_sql_ds(m)}, list_min({_pq_sql_ds(m)}))"
            for m in range(PQ_M)),
        "dtab": ", ".join(_pq_sql_ds(m) for m in range(PQ_M)),
        "cb_cte": cb_cte,
    }


def _pq_sql_adc(code_rel: str, tab_rel: str) -> str:
    return " + ".join(
        f"{tab_rel}.dtab[{m + 1}][{code_rel}.codes[{m + 1}]]"
        for m in range(PQ_M))


def _sql_pq_adc() -> str:
    p = _pq_sql_parts()
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
{p["cb_cte"]},
enc AS (
  SELECT vec_id, [{p["codes"]}] AS codes FROM e CROSS JOIN cb),
q AS (
  SELECT vec_id AS query_id, [{p["dtab"]}] AS dtab
  FROM e CROSS JOIN cb WHERE vec_id % {QUERY_MOD} = 0),
pairs AS (
  SELECT q.query_id, e.vec_id, {_pq_sql_adc("e", "q")} AS adc
  FROM enc e CROSS JOIN q WHERE e.vec_id <> q.query_id),
ranked AS (
  SELECT query_id, vec_id, adc,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc, vec_id) AS rank
  FROM pairs)
SELECT query_id, vec_id, rank, round(adc, 6) AS adc_dist
FROM ranked WHERE rank <= {TOP_K}
"""


# -- IVF-PQ: coarse cells + ADC scoring — the FAISS-shipping shape ------------

def q_ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the memory-bounded ANN index the 100 TB deployment
    actually runs (FAISS IVFADC, Jégou et al. 2011 §V): coarse cells
    bound the CANDIDATE COUNT (nprobe × cell size, never the corpus) and
    PQ codes bound the PER-CANDIDATE COST (PQ_M table lookups) and the
    index footprint (codes, not vectors — the corpus's float payload
    never reaches the scoring join).  Cell assignment is L2 to the
    broadcast centroid set (consistent with ADC's metric, unlike the
    cosine cells of ann_ivf_topk); codes/tables come from the broadcast
    1-row codebook; cell assignment is a narrow per-row argmin over the
    broadcast centroid array (map-side — nothing shuffles to build the
    index), and the per-query (dtab, cent_id) side broadcasts, so the
    rank window over the bounded candidates is the only shuffle."""
    e = _emb(spark, sf_dir).select("vec_id", "v")
    return _pq_rank(_ivf_pq_pairs(e))


def _ivf_pq_pairs(e: DataFrame) -> DataFrame:
    """(query_id, vec_id, adc) candidate pairs of the IVF-PQ index —
    shared by the direct ADC top-k and the exact re-rank second stage."""
    cb = _pq_codebook(e)
    carr = (e.filter(F.col("vec_id") % CENT_MOD == 0)
            .select(F.col("vec_id").alias("cent_id"), F.col("v").alias("cv"))
            .groupBy()
            .agg(F.array_sort(
                F.collect_list(F.struct("cent_id", "cv"))).alias("carr")))

    def cells(side: DataFrame, id_col: str, n: int) -> DataFrame:
        scored = F.transform(
            "carr",
            lambda c: F.struct(_sqdist(F.col("v"), c["cv"]).alias("cdist"),
                               c["cent_id"].alias("cent_id")))
        # narrow argmin ≡ the former ORDER BY cdist, cent_id window;
        # explode pins one evaluation of the fold array
        return (side.crossJoin(F.broadcast(carr))
                .select(id_col, "v",
                        F.explode(
                            F.slice(F.array_sort(scored), 1, n)).alias("nc"))
                .select(id_col, "v",
                        F.col("nc")["cent_id"].alias("cent_id")))

    enc = (cells(e, "vec_id", 1)
           .crossJoin(F.broadcast(cb))
           .select("vec_id", "cent_id", _pq_codes().alias("codes")))
    qs = (e.filter(F.col("vec_id") % QUERY_MOD == 0)
          .select(F.col("vec_id").alias("query_id"), "v"))
    q = (cells(qs, "query_id", N_PROBE)
         .crossJoin(F.broadcast(cb))
         .select("query_id", "cent_id", _pq_dtab().alias("dtab")))
    return (enc.join(F.broadcast(q), "cent_id")
            .filter(F.col("vec_id") != F.col("query_id"))
            .select("query_id", "vec_id", _pq_adc().alias("adc")))


def _pq_sql_stage1() -> str:
    """Shared IVF-PQ stage-1 WITH-clause prefix (e/cb/cents/assigned/
    enc/probes/q/pairs) — the SQL twin of _ivf_pq_pairs, factored ONCE
    so stage-1 edits cannot drift between the _sql_ivf_pq and
    _sql_rerank_exact oracles (they previously carried verbatim
    copies)."""
    p = _pq_sql_parts()

    def assign(n: int, id_expr: str, where: str = "") -> str:
        return f"""
  SELECT {id_expr} AS id, v, cent_id FROM (
    SELECT e.vec_id, e.v, c.cent_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_pq_sql_sq("e.v", "c.cv")}, c.cent_id) AS r
    FROM e CROSS JOIN cents c {where})
  WHERE r <= {n}"""

    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
{p["cb_cte"]},
cents AS (SELECT vec_id AS cent_id, v AS cv FROM e
          WHERE vec_id % {CENT_MOD} = 0),
assigned AS ({assign(1, 'vec_id')}
),
enc AS (
  SELECT id AS vec_id, cent_id, [{p["codes"]}] AS codes
  FROM assigned CROSS JOIN cb),
probes AS ({assign(N_PROBE, 'vec_id',
                   f'WHERE e.vec_id % {QUERY_MOD} = 0')}
),
q AS (
  SELECT id AS query_id, cent_id, [{p["dtab"]}] AS dtab
  FROM probes CROSS JOIN cb),
pairs AS (
  SELECT q.query_id, a.vec_id, {_pq_sql_adc("a", "q")} AS adc
  FROM enc a JOIN q USING (cent_id) WHERE a.vec_id <> q.query_id)"""


def _sql_ivf_pq() -> str:
    return f"""{_pq_sql_stage1()},
ranked AS (
  SELECT query_id, vec_id, adc,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc, vec_id) AS rank
  FROM pairs)
SELECT query_id, vec_id, rank, round(adc, 6) AS adc_dist
FROM ranked WHERE rank <= {TOP_K}
"""


# -- two-stage retrieval: ADC shortlist -> exact re-rank ------------------------------

RERANK_C = 20   # ADC shortlist size per query (4x the final k)


def q_ann_rerank_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval — IVF-PQ ADC shortlist refined by an exact
    re-rank (the FAISS ``refine``/IVFADC+R deployment shape, Jégou et al.
    2011 §V-C): stage 1 ranks the compressed candidates by ADC distance
    and keeps RERANK_C per query; stage 2 re-scores ONLY the shortlist
    against the raw float vectors and returns the final exact-L2 top-k.

    Scale shape: the raw float payload is touched by exactly
    RERANK_C x |queries| rows — the corpus-sized scoring join stays on
    PQ codes (the whole point of the two-stage design).  The shortlist
    joins back to the vector table as a co-partitioned equi-join on
    vec_id; the bounded query-vector side broadcasts; both rank windows
    are per-query bounded.  dist ships integer-quantized
    (floor(dist*1e4) AS BIGINT — the repo's _QUANT discipline), never
    round-on-double."""
    e = _emb(spark, sf_dir).select("vec_id", "v")
    pairs = _ivf_pq_pairs(e)
    w1 = W.partitionBy("query_id").orderBy("adc", "vec_id")
    short = (pairs.withColumn("r1", F.row_number().over(w1))
             .filter(F.col("r1") <= RERANK_C)
             .select("query_id", "vec_id"))
    qv = (e.filter(F.col("vec_id") % QUERY_MOD == 0)
          .select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv")))
    exact = (short.join(e, "vec_id")
             .join(F.broadcast(qv), "query_id")
             .select("query_id", "vec_id",
                     _sqdist(F.col("v"), F.col("qv")).alias("dist")))
    w2 = W.partitionBy("query_id").orderBy("dist", "vec_id")
    return (exact.withColumn("rank", F.row_number().over(w2))
            .filter(F.col("rank") <= TOP_K)
            .select("query_id", "vec_id",
                    F.col("rank").cast("bigint").alias("rank"),
                    F.floor(F.col("dist") * 10000).cast("bigint")
                    .alias("dist_q")))


def _sql_rerank_exact() -> str:
    return f"""{_pq_sql_stage1()},
short AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY adc, vec_id) AS r1
    FROM pairs)
  WHERE r1 <= {RERANK_C}),
exact AS (
  SELECT s.query_id, s.vec_id,
         {_pq_sql_sq("ev.v", "qe.v")} AS dist
  FROM short s
  JOIN e ev ON ev.vec_id = s.vec_id
  JOIN e qe ON qe.vec_id = s.query_id),
ranked AS (
  SELECT query_id, vec_id, dist,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY dist, vec_id) AS rank
  FROM exact)
SELECT query_id, vec_id, CAST(rank AS BIGINT) AS rank,
       CAST(floor(dist * 10000) AS BIGINT) AS dist_q
FROM ranked WHERE rank <= {TOP_K}
"""


# -- maximum-inner-product search (MIPS) ---------------------------------------------

def q_ann_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-inner-product top-k via the augmented-vector reduction
    (Bachrach et al. / Shrivastava-Li): append sqrt(M² − |x|²) to every
    corpus vector (M = max corpus norm, a 1-row broadcast aggregate) and
    0 to every query — then every augmented vector has norm exactly M,
    so COSINE order over the augmented space IS inner-product order over
    the original space, and any cosine-ANN index (the LSH/IVF siblings
    in this module) serves MIPS unchanged.  That equivalence is this
    query's contract: the returned ranking is the exact inner-product
    top-k (tie-break vec_id) and the oracle recomputes it directly from
    raw dots — the driver's hash gate is the mathematical proof on real
    data; the augmented cosine ships alongside (sqrt/div are IEEE
    exact-rounded, so it is bit-identical too).

    Scale shape: M² is one partial-agg scan broadcast as a 1-row frame;
    scoring reuses the brute broadcast-query shape (documented exact
    baseline — the LSH bucket join is the scale path, unchanged by the
    transform)."""
    e = _emb(spark, sf_dir)
    m2 = e.agg(F.max(F.col("nrm") * F.col("nrm")).alias("m2"))
    q = e.filter(F.col("vec_id") % QUERY_MOD == 0) \
         .select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
                 F.col("nrm").alias("qnrm"))
    pairs = (e.crossJoin(F.broadcast(m2))
             .join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
             .select("query_id", "vec_id",
                     _dot(F.col("qv"), F.col("v")).alias("ip"),
                     (_dot(F.col("qv"), F.col("v"))
                      / (F.col("qnrm") * F.sqrt(F.col("m2"))))
                     .alias("cos_aug")))
    w = W.partitionBy("query_id").orderBy(F.col("ip").desc(), F.col("vec_id"))
    return (pairs.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOP_K)
            .select("query_id", "vec_id",
                    F.col("rank").cast("bigint").alias("rank"),
                    F.round("ip", 6).alias("ip"),
                    F.round("cos_aug", 6).alias("cos_aug")))


SQL_ANN_MIPS = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                  {_SQL_NORM.format(a="(embedding::DOUBLE[])")} AS nrm
           FROM embeddings),
m AS (SELECT max(nrm * nrm) AS m2 FROM e),
q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM e
      WHERE vec_id % {QUERY_MOD} = 0),
pairs AS (
  SELECT q.query_id, e.vec_id,
         {_SQL_DOT.format(a="q.qv", b="e.v")} AS ip,
         {_SQL_DOT.format(a="q.qv", b="e.v")} / (q.qnrm * sqrt(m.m2))
           AS cos_aug
  FROM e CROSS JOIN m JOIN q ON e.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, vec_id, ip, cos_aug,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY ip DESC, vec_id) AS rank
  FROM pairs
)
SELECT query_id, vec_id, CAST(rank AS BIGINT) AS rank,
       round(ip, 6) AS ip, round(cos_aug, 6) AS cos_aug
FROM ranked WHERE rank <= {TOP_K}
"""


# -- recall@k evaluation: IVF vs the exact baseline ---------------------------------

def q_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@k of the IVF path against the brute-force ground
    truth — the quality gate every ANN deployment needs next to its
    latency numbers.

    Scale shape: both inputs are k-bounded per query, so the comparison
    join moves k·|queries| rows however big the corpus is; the cost is
    the brute-force side itself, which is why at 100 TB the eval runs on
    a SAMPLED query set (here the deterministic vec_id % QUERY_MOD set
    both paths already share) rather than every query.  recall_pct is
    exact integer math — no float leaves the plan."""
    bf = q_ann_bruteforce_topk(spark, sf_dir).select("query_id", "vec_id")
    iv = q_ann_ivf_topk(spark, sf_dir).select("query_id", "vec_id")
    truth = bf.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_true"))
    hits = (bf.join(iv, ["query_id", "vec_id"])
            .groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hits")))
    return (truth.join(hits, "query_id", "left")
            .select("query_id",
                    F.col("n_true").cast("bigint").alias("n_true"),
                    F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint")
                    .alias("n_hits"))
            .withColumn("recall_pct",
                        F.expr("n_hits * 100 div n_true").cast("bigint")))


SQL_ANN_RECALL = f"""
WITH bf AS (SELECT query_id, vec_id FROM ({SQL_ANN_BRUTEFORCE}) t_bf),
iv AS (SELECT query_id, vec_id FROM ({SQL_ANN_IVF}) t_iv),
truth AS (SELECT query_id, count(*) AS n_true FROM bf GROUP BY query_id),
hits AS (
  SELECT bf.query_id, count(*) AS n_hits
  FROM bf JOIN iv USING (query_id, vec_id)
  GROUP BY bf.query_id
)
SELECT t.query_id,
       CAST(t.n_true AS BIGINT) AS n_true,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(coalesce(h.n_hits, 0) * 100 // t.n_true AS BIGINT) AS recall_pct
FROM truth t LEFT JOIN hits h USING (query_id)
"""


# -- int8 scalar quantization (SQ8) -------------------------------------------------

def q_ann_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized ANN: every vector is compressed to one uint8 code
    per dimension against GLOBAL per-dimension [min, max] ranges, and
    candidates are ranked by the exact INTEGER dot product of the codes —
    the FAISS ``SQ8`` memory layout (reference has no ANN surface; this is
    the training-data-pipeline extension the 100 TB brief asks for).

    Scale shape: the per-dim range scan is ONE shuffle of (dim, x) pairs
    with map-side partial min/max (64 rows per task survive the map side,
    whatever the corpus size); the 1-row range table broadcasts; scoring
    reuses the brute-force broadcast-query shape but moves 8x fewer bytes
    per candidate (uint8 codes vs float64) — at 10^12 vectors the code
    table is the only thing that has to fit, which is the whole point of
    SQ8.  All ranking math is integer, so the oracle is bit-exact."""
    e = _emb(spark, sf_dir).select("vec_id", "v")
    # one partial-agg shuffle: (dim, x) -> 64 (min, max) rows
    st = (e.select(F.posexplode("v").alias("dim", "x"))
          .groupBy("dim").agg(F.min("x").alias("mn"), F.max("x").alias("mx")))
    ranges = st.agg(
        F.transform(F.array_sort(F.collect_list(F.struct("dim", "mn"))),
                    lambda s: s.mn).alias("mns"),
        F.transform(F.array_sort(F.collect_list(F.struct("dim", "mx"))),
                    lambda s: s.mx).alias("mxs"))
    mn = F.col("mns")
    mx = F.col("mxs")
    code = F.transform(
        F.col("v"),
        lambda x, i: F.when(
            F.element_at(mx, i + 1) > F.element_at(mn, i + 1),
            F.least(
                F.lit(255).cast("bigint"),
                F.floor((x - F.element_at(mn, i + 1)) * 255.0
                        / (F.element_at(mx, i + 1)
                           - F.element_at(mn, i + 1))),
            )).otherwise(F.lit(0).cast("bigint")))
    codes = (e.crossJoin(F.broadcast(ranges))
             .select("vec_id", code.alias("c")))
    q = codes.filter(F.col("vec_id") % QUERY_MOD == 0) \
             .select(F.col("vec_id").alias("query_id"), F.col("c").alias("qc"))
    score = F.aggregate(F.zip_with("qc", "c", lambda a, b: a * b),
                        F.lit(0).cast("bigint"), lambda acc, x: acc + x)
    pairs = (codes.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
             .select("query_id", "vec_id", score.alias("score_q")))
    w = W.partitionBy("query_id").orderBy(F.col("score_q").desc(),
                                          F.col("vec_id"))
    return (pairs.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOP_K)
            .select("query_id", "vec_id",
                    F.col("rank").cast("bigint").alias("rank"),
                    F.col("score_q").cast("bigint").alias("score_q")))


SQL_ANN_SQ8 = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
st AS (
  SELECT dim, min(x) AS mn, max(x) AS mx FROM (
    SELECT unnest(generate_series(1, len(v))) AS dim, unnest(v) AS x FROM e
  ) GROUP BY dim
),
ranges AS (SELECT list(mn ORDER BY dim) AS mns, list(mx ORDER BY dim) AS mxs
           FROM st),
codes AS (
  SELECT vec_id,
         list_transform(generate_series(1, len(v)),
           i -> CASE WHEN r.mxs[i] > r.mns[i]
                THEN CAST(least(255, floor((v[i] - r.mns[i]) * 255.0
                                           / (r.mxs[i] - r.mns[i])))
                          AS BIGINT)
                ELSE 0 END) AS c
  FROM e CROSS JOIN ranges r
),
q AS (SELECT vec_id AS query_id, c AS qc FROM codes
      WHERE vec_id % {QUERY_MOD} = 0),
pairs AS (
  SELECT q.query_id, codes.vec_id,
         list_reduce(list_transform(generate_series(1, len(qc)),
                                    i -> qc[i] * c[i]),
                     (x, y) -> x + y) AS score_q
  FROM codes JOIN q ON codes.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, vec_id, score_q,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score_q DESC, vec_id) AS rank
  FROM pairs
)
SELECT query_id, vec_id, CAST(rank AS BIGINT) AS rank,
       CAST(score_q AS BIGINT) AS score_q
FROM ranked WHERE rank <= {TOP_K}
"""


QUERIES = {
    "ann_bruteforce_topk": (q_ann_bruteforce_topk, SQL_ANN_BRUTEFORCE),
    "ann_sq8_topk": (q_ann_sq8_topk, SQL_ANN_SQ8),
    "ann_mips_topk": (q_ann_mips_topk, SQL_ANN_MIPS),
    "ann_recall_eval": (q_ann_recall_eval, SQL_ANN_RECALL),
    "ann_lsh_topk": (q_ann_lsh_topk, SQL_ANN_LSH),
    "ann_ivf_topk": (q_ann_ivf_topk, SQL_ANN_IVF),
    "ann_kmeans_train": (q_ann_kmeans_train, _sql_kmeans()),
    "ann_ivf_trained_topk": (q_ann_ivf_trained_topk, _sql_ivf_trained()),
    "ann_pq_adc_topk": (q_ann_pq_adc_topk, _sql_pq_adc()),
    "ann_ivf_pq_topk": (q_ann_ivf_pq_topk, _sql_ivf_pq()),
    "ann_rerank_exact": (q_ann_rerank_exact, _sql_rerank_exact()),
    "ann_filtered_topk": (q_ann_filtered_topk, SQL_ANN_FILTERED),
}
