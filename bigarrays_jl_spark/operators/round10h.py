"""Round-10 eighth batch: privacy auditing, hybrid retrieval fusion,
information-theoretic feature selection, and segment shape moments.

- q78_kanonymity: the privacy audit a training-data pipeline runs
  before releasing a table — k-anonymity census over the
  quasi-identifier (mktsegment, nationkey) with an l-diversity check
  on the sensitive attribute (account-balance sign).  Two exact
  integer aggregations: classes, then per-segment census of class
  sizes (k_min, rows in classes with k < 5, classes with l < 2).
- retrieval_rrf_hybrid: reciprocal-rank fusion of the two retrieval
  legs the registry already proves independently — BM25 over the
  document text (text_bm25) and brute-force cosine over the aligned
  embedding column — the standard hybrid-search scorer
  RRF(d) = Σ_legs 1/(60 + rank_leg(d)).  Ranks come from the
  hash-stable 6-digit scores with doc-id tiebreaks, so both engines
  rank identically; the fused score is the SAME two-term double
  expression on both sides (never an order-dependent SUM).
- q79_mutual_info: per-dimension mutual information I(label; x_i ≤
  median_i) in bits — the filter-method feature-selection screen.
  The per-dim median comes from the value-domain histogram (q64 rule
  over 1e-6 fixed-point values); MI terms are doubles from exact
  integer counts, accumulated with the round-then-DECIMAL(28,9) log
  canon (text_corpus_divergence discipline).
- volume_label_moments: per-label centroid and second central moments
  (the 3×3 shape covariance) over the segmentation volume — the
  skeletonization/meshing precursor that tells principal axes and
  elongation per segment.  Nine exact integer moment sums per label
  ride the one label-keyed shuffle; the closed forms evaluate once in
  doubles (the q77 moments discipline applied to voxels).

Scale shapes (SCALE.md "Round-10 batch 8"): k-anonymity is two
integer groupBys (classes, then census — output ∝ QI cardinality);
RRF ranks run over the CANDIDATE lists (BM25-matched docs; ANN scores)
— at 100 TB each leg is its own top-K cascade (TakeOrdered + IVF,
both already in tree) and the fuse joins two K-row tables; MI is a
(dim × label × 2) contingency cube built from one corpus scan;
label moments shuffle 9 integers per label, never voxels.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from bigarrays_jl_spark.checkpointing import materialize
from bigarrays_jl_spark.functions import dot as _dot
from bigarrays_jl_spark.functions import norm2 as _norm2
from bigarrays_jl_spark.operators.ordering import distributed_prefix_sum
from bigarrays_jl_spark.operators.retrieval import TEXT_BM25_SQL, text_bm25
from bigarrays_jl_spark.operators.volume_seg import (SEG_BLOCK, SEG_SIDE,
                                                     demo_seg_volume)
from bigarrays_jl_spark.sources.tables import load

EMB_Q = 1_000_000
K_ANON = 5
RRF_K = 60
RRF_QID = 0           # the query document/vector for the hybrid demo
RRF_TOP = 10
MOM_BOX = ((4, 60), (0, 64), (0, 64))


# --------------------------------------------------------------------------
# q78_kanonymity
# --------------------------------------------------------------------------


def q78_kanonymity(spark: SparkSession, sf: str) -> DataFrame:
    c = load(spark, sf, "customer").select(
        "c_mktsegment", "c_nationkey",
        (F.col("c_acctbal") >= 0).cast("int").alias("sens"))
    cls = (c.groupBy("c_mktsegment", "c_nationkey")
           .agg(F.count("*").alias("k"),
                F.countDistinct("sens").alias("l")))
    return (cls.groupBy("c_mktsegment")
            .agg(F.count("*").alias("n_classes"),
                 F.sum("k").cast("bigint").alias("n_rows"),
                 F.min("k").cast("bigint").alias("k_min"),
                 F.sum(F.when(F.col("k") < K_ANON, F.col("k"))
                        .otherwise(0)).cast("bigint")
                  .alias("rows_below_k"),
                 F.sum(F.when(F.col("l") < 2, 1).otherwise(0))
                  .cast("bigint").alias("classes_below_l2")))


Q78_SQL = f"""
WITH cls AS (
  SELECT c_mktsegment, c_nationkey, count(*) AS k,
         count(DISTINCT CASE WHEN c_acctbal >= 0 THEN 1 ELSE 0 END) AS l
  FROM customer GROUP BY 1, 2)
SELECT c_mktsegment, count(*) AS n_classes,
       CAST(sum(k) AS BIGINT) AS n_rows,
       CAST(min(k) AS BIGINT) AS k_min,
       CAST(sum(CASE WHEN k < {K_ANON} THEN k ELSE 0 END) AS BIGINT)
         AS rows_below_k,
       CAST(sum(CASE WHEN l < 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS classes_below_l2
FROM cls GROUP BY 1
"""


# --------------------------------------------------------------------------
# retrieval_rrf_hybrid
# --------------------------------------------------------------------------


def retrieval_rrf_hybrid(spark: SparkSession, sf: str) -> DataFrame:
    """Reciprocal-rank fusion of the BM25 and brute-force-cosine legs.

    Both legs' global ranks are distributed_prefix_sums (ordering.py),
    NOT whole-table ORDER BY windows: each leg ranks the ENTIRE corpus
    against the query, and a bare row_number window funnels every
    document/embedding through one task (Exchange SinglePartition).
    The fused top-RRF_TOP is a TakeOrdered heap.  At 100 TB the ANN
    leg would additionally cap itself via the IVF-routed
    ann_cosine_topk cascade (similarity.py) before fusing; the exact
    full-rank fusion here keeps the DuckDB oracle bit-identical."""
    bm = text_bm25(spark, sf).withColumn("negb", -F.col("bm25"))
    rb_df, _ = distributed_prefix_sum(
        spark, bm, F.lit(1), "negb", "doc_id", out="r_bm25")
    rb = rb_df.select("doc_id", F.col("r_bm25").cast("int").alias("r_bm25"))
    e = load(spark, sf, "embeddings")
    q = (e.filter(F.col("vec_id") == RRF_QID)
         .select(F.col("embedding").alias("qe")))
    scored = (e.filter(F.col("vec_id") != RRF_QID)
              .crossJoin(F.broadcast(q))
              .withColumn("cosine", F.round(
                  _dot(F.col("qe"), F.col("embedding"))
                  / (F.sqrt(_norm2(F.col("qe")))
                     * F.sqrt(_norm2(F.col("embedding")))), 6))
              .select(F.col("vec_id").alias("doc_id"),
                      (-F.col("cosine")).alias("negc")))
    ra_df, _ = distributed_prefix_sum(
        spark, scored, F.lit(1), "negc", "doc_id", out="r_ann")
    ra = ra_df.select("doc_id", F.col("r_ann").cast("int").alias("r_ann"))
    fused = (rb.join(ra, "doc_id", "full_outer")
             .select("doc_id", "r_bm25", "r_ann",
                     (F.coalesce(1.0 / (RRF_K + F.col("r_bm25")),
                                 F.lit(0.0))
                      + F.coalesce(1.0 / (RRF_K + F.col("r_ann")),
                                   F.lit(0.0))).alias("rrf")))
    return (fused.orderBy(F.col("rrf").desc(), F.col("doc_id"))
            .limit(RRF_TOP)
            .select("doc_id",
                    F.coalesce("r_bm25", F.lit(-1)).cast("int")
                     .alias("r_bm25"),
                    F.coalesce("r_ann", F.lit(-1)).cast("int")
                     .alias("r_ann"),
                    "rrf"))


RRF_SQL = f"""
WITH bm AS ({TEXT_BM25_SQL}),
rb AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id)
                      AS INT) AS r_bm25
  FROM bm),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {RRF_QID}),
ra AS (
  SELECT vec_id AS doc_id,
         CAST(row_number() OVER (ORDER BY cosine DESC, vec_id) AS INT)
           AS r_ann
  FROM (
    SELECT vec_id,
           round(list_sum(list_transform(range(1, len(qe) + 1),
                   i -> CAST(qe[i] AS DOUBLE)
                        * CAST(embedding[i] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(qe,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                    * sqrt(list_sum(list_transform(embedding,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)
             AS cosine
    FROM embeddings, q WHERE vec_id <> {RRF_QID}))
SELECT coalesce(rb.doc_id, ra.doc_id) AS doc_id,
       coalesce(r_bm25, -1) AS r_bm25,
       coalesce(r_ann, -1) AS r_ann,
       coalesce(1.0 / ({RRF_K} + r_bm25), 0.0)
         + coalesce(1.0 / ({RRF_K} + r_ann), 0.0) AS rrf
FROM rb FULL OUTER JOIN ra ON rb.doc_id = ra.doc_id
ORDER BY rrf DESC, doc_id LIMIT {RRF_TOP}
"""


# --------------------------------------------------------------------------
# q79_mutual_info
# --------------------------------------------------------------------------


def q79_mutual_info(spark: SparkSession, sf: str) -> DataFrame:
    el = materialize(
        load(spark, sf, "embeddings")
        .select("label", F.posexplode("embedding").alias("i", "x"))
        .select("label", "i",
                F.round(F.col("x").cast("double") * EMB_Q)
                 .cast("bigint").alias("xi")), eager=False)
    hist = el.groupBy("i", "xi").agg(F.count("*").alias("w"))
    w_cum = (Window.partitionBy("i").orderBy("xi")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    w_all = Window.partitionBy("i")
    med = (hist.withColumn("cum", F.sum("w").over(w_cum))
           .withColumn("tot", F.sum("w").over(w_all))
           .filter(2 * F.col("cum") >= F.col("tot"))
           .groupBy("i").agg(F.min("xi").alias("med")))
    cube = (el.join(F.broadcast(med), "i")
            .select("i", "label",
                    (F.col("xi") <= F.col("med")).cast("int").alias("b"))
            .groupBy("i", "label", "b").agg(F.count("*").alias("nlb")))
    wl = Window.partitionBy("i", "label")
    wb = Window.partitionBy("i", "b")
    wn = Window.partitionBy("i")
    term = ((F.col("nlb").cast("double") / F.col("n"))
            * F.log2(F.col("nlb").cast("double") * F.col("n")
                     / (F.col("nl").cast("double") * F.col("nb"))))
    return (cube.withColumn("nl", F.sum("nlb").over(wl))
            .withColumn("nb", F.sum("nlb").over(wb))
            .withColumn("n", F.sum("nlb").over(wn).cast("double"))
            .groupBy("i")
            .agg(F.sum(F.round(term, 9).cast("decimal(28,9)"))
                  .cast("double").alias("mi_bits"),
                 F.count("*").cast("bigint").alias("n_cells")))


Q79_SQL = f"""
WITH el AS (
  SELECT e.label, d.i,
         CAST(round(CAST(e.embedding[d.i + 1] AS DOUBLE) * {EMB_Q})
              AS BIGINT) AS xi
  FROM embeddings e,
       (SELECT CAST(range AS BIGINT) AS i FROM range(0, 64)) d),
hist AS (SELECT i, xi, count(*) AS w FROM el GROUP BY 1, 2),
med AS (
  SELECT i, min(xi) AS med FROM (
    SELECT i, xi,
           sum(w) OVER (PARTITION BY i ORDER BY xi
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS cum,
           sum(w) OVER (PARTITION BY i) AS tot
    FROM hist)
  WHERE 2 * cum >= tot GROUP BY i),
cube AS (
  SELECT el.i, el.label,
         CASE WHEN el.xi <= med.med THEN 1 ELSE 0 END AS b,
         count(*) AS nlb
  FROM el JOIN med ON el.i = med.i GROUP BY 1, 2, 3),
m AS (
  SELECT i, label, b, nlb,
         sum(nlb) OVER (PARTITION BY i, label) AS nl,
         sum(nlb) OVER (PARTITION BY i, b) AS nb,
         CAST(sum(nlb) OVER (PARTITION BY i) AS DOUBLE) AS n
  FROM cube)
SELECT i,
       CAST(sum(CAST(round(
           (CAST(nlb AS DOUBLE) / n)
           * log2(CAST(nlb AS DOUBLE) * n
                  / (CAST(nl AS DOUBLE) * nb)), 9)
         AS DECIMAL(28,9))) AS DOUBLE) AS mi_bits,
       count(*) AS n_cells
FROM m GROUP BY i
"""


# --------------------------------------------------------------------------
# volume_label_moments
# --------------------------------------------------------------------------


def volume_label_moments(spark: SparkSession, sf: str) -> DataFrame:
    vol = demo_seg_volume(spark)
    vox = vol.voxels(MOM_BOX)
    m = (vox.groupBy(F.col("value").alias("label"))
         .agg(F.count("*").alias("n"),
              F.sum("x").alias("sx"), F.sum("y").alias("sy"),
              F.sum("z").alias("sz"),
              F.sum(F.col("x") * F.col("x")).alias("sxx"),
              F.sum(F.col("y") * F.col("y")).alias("syy"),
              F.sum(F.col("z") * F.col("z")).alias("szz"),
              F.sum(F.col("x") * F.col("y")).alias("sxy"),
              F.sum(F.col("x") * F.col("z")).alias("sxz"),
              F.sum(F.col("y") * F.col("z")).alias("syz")))

    def ctr(s):
        return (F.col(s).cast("double") / F.col("n")).alias(f"c{s[1]}")

    def cov(spq, sp, sq, out):
        n = F.col("n").cast("double")
        return ((F.col(spq).cast("double")
                 - F.col(sp).cast("double") * F.col(sq).cast("double") / n)
                / n).alias(out)

    return m.select(F.col("label").cast("bigint").alias("label"),
                    F.col("n").cast("bigint").alias("n_voxels"),
                    ctr("sx"), ctr("sy"), ctr("sz"),
                    cov("sxx", "sx", "sx", "cov_xx"),
                    cov("syy", "sy", "sy", "cov_yy"),
                    cov("szz", "sz", "sz", "cov_zz"),
                    cov("sxy", "sx", "sy", "cov_xy"),
                    cov("sxz", "sx", "sz", "cov_xz"),
                    cov("syz", "sy", "sz", "cov_yz"))


(_X0, _X1), (_Y0, _Y1), (_Z0, _Z1) = MOM_BOX

VOLUME_LABEL_MOMENTS_SQL = f"""
WITH v AS (
  SELECT CAST(x.range AS BIGINT) AS x, CAST(y.range AS BIGINT) AS y,
         CAST(z.range AS BIGINT) AS z,
         ((x.range // {SEG_BLOCK}) * 16 + (y.range // {SEG_BLOCK}) * 4
          + (z.range // {SEG_BLOCK})) AS label
  FROM range({_X0}, {_X1}) x, range({_Y0}, {_Y1}) y,
       range({_Z0}, {_Z1}) z),
m AS (
  SELECT label, count(*) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(z) AS BIGINT) AS sz,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy,
         CAST(sum(z * z) AS BIGINT) AS szz,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * z) AS BIGINT) AS sxz,
         CAST(sum(y * z) AS BIGINT) AS syz
  FROM v GROUP BY label)
SELECT CAST(label AS BIGINT) AS label, n AS n_voxels,
       CAST(sx AS DOUBLE) / n AS cx,
       CAST(sy AS DOUBLE) / n AS cy,
       CAST(sz AS DOUBLE) / n AS cz,
       (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
          / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) AS cov_xx,
       (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
          / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) AS cov_yy,
       (CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)
          / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) AS cov_zz,
       (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
          / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) AS cov_xy,
       (CAST(sxz AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sz AS DOUBLE)
          / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) AS cov_xz,
       (CAST(syz AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sz AS DOUBLE)
          / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) AS cov_yz
FROM m
"""


QUERIES = {
    "q78_kanonymity": q78_kanonymity,
    "retrieval_rrf_hybrid": retrieval_rrf_hybrid,
    "q79_mutual_info": q79_mutual_info,
    "volume_label_moments": volume_label_moments,
}

ORACLES = {
    "q78_kanonymity": Q78_SQL,
    "retrieval_rrf_hybrid": RRF_SQL,
    "q79_mutual_info": Q79_SQL,
    "volume_label_moments": VOLUME_LABEL_MOMENTS_SQL,
}
