"""Round-12 batch 4 (builder extension, SURVEY §2C):

- ``q99_t_closeness`` — the t-closeness privacy audit (the step after
  q78's k-anonymity/l-diversity): per quasi-identifier class
  (mktsegment × nation), the Earth Mover's Distance between the
  class's sensitive-attribute distribution (account balance in 10
  fixed-width bins) and the GLOBAL distribution, over the ordered bin
  domain — EMD = Σ|cum diffs| / (m−1).  All comparisons run in exact
  cross-multiplied integers (Σ|cum_c·N_g − cum_g·N_c| with one double
  division at the end), so the per-segment max-t and the t>0.2
  violation counts are bit-stable across engines and partitionings.
- ``sketch_jaccard`` — KMV set-similarity: for each event-type pair,
  the Jaccard estimated from the k smallest union hashes (fraction of
  them present in BOTH types' sketches — the classic k-min coincidence
  estimator) beside the exact Jaccard.  Like sketch_union_distinct
  (round12), the estimate derives from the per-type minima alone —
  never a re-scan — and the md5 canon makes it cross-engine EXACT.

Scale: t-closeness folds to (class, bin) cells map-side (≤ classes×10
rows after the first shuffle); the sketch Jaccard inherits the
round11d two-level pre-prune and pair windows bounded at 2k rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from bigarrays_jl_spark.checkpointing import materialize
from bigarrays_jl_spark.operators.round11d import KMV_K
from bigarrays_jl_spark.operators.round12 import _type_minima
from bigarrays_jl_spark.sources.tables import load

T_BINS = 10
T_MAX_NUM, T_MAX_DEN = 1, 5        # violation threshold t > 0.2


def q99_t_closeness(spark: SparkSession, sf: str) -> DataFrame:
    c = load(spark, sf, "customer").select(
        "c_mktsegment", "c_nationkey",
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("cents"))
    rng = c.agg(F.min("cents").alias("lo"), F.max("cents").alias("hi"),
                F.count("*").alias("ng"))
    width = (F.col("hi") - F.col("lo")) / T_BINS + 1
    binned = (c.crossJoin(F.broadcast(rng))
              .select("c_mktsegment", "c_nationkey", "ng",
                      F.floor((F.col("cents") - F.col("lo")) / width)
                      .cast("int").alias("bin")))
    gdist = (binned.groupBy("bin").agg(F.count("*").alias("gc")))
    cells = (binned.groupBy("c_mktsegment", "c_nationkey", "bin", "ng")
             .agg(F.count("*").alias("cc")))
    # dense bins per class (absent bins still contribute |0 − cum_g|):
    # cross the tiny class list with the 10-bin global table
    classes = (cells.groupBy("c_mktsegment", "c_nationkey", "ng")
               .agg(F.sum("cc").alias("nc")))
    dense = (classes.crossJoin(F.broadcast(gdist))
             .join(cells.select("c_mktsegment", "c_nationkey",
                                "bin", "cc"),
                   ["c_mktsegment", "c_nationkey", "bin"], "left")
             .select("c_mktsegment", "c_nationkey", "nc", "ng", "bin",
                     F.coalesce("cc", F.lit(0)).alias("cc"), "gc"))
    bw = (W.partitionBy("c_mktsegment", "c_nationkey").orderBy("bin")
          .rowsBetween(W.unboundedPreceding, 0))
    cum = (dense.withColumn("cum_c", F.sum("cc").over(bw))
           .withColumn("cum_g", F.sum("gc").over(bw))
           .filter(F.col("bin") < T_BINS - 1))   # last cum diff is 0
    per_class = (cum.groupBy("c_mktsegment", "c_nationkey", "nc", "ng")
                 .agg(F.sum(F.abs(F.col("cum_c") * F.col("ng")
                                  - F.col("cum_g") * F.col("nc")))
                      .alias("s")))
    t = (F.col("s").cast("double")
         / (F.col("nc").cast("double") * F.col("ng").cast("double")
            * (T_BINS - 1)))
    # exact violation test: s·DEN > NUM·nc·ng·(m−1) in integers
    viol = (F.col("s") * T_MAX_DEN
            > F.col("nc") * F.col("ng") * (T_BINS - 1) * T_MAX_NUM)
    return (per_class.groupBy("c_mktsegment")
            .agg(F.count("*").cast("bigint").alias("n_classes"),
                 F.round(F.max(t), 6).alias("max_t"),
                 F.sum(viol.cast("int")).cast("bigint")
                  .alias("n_violating")))


Q99_SQL = f"""
WITH c AS (
  SELECT c_mktsegment, c_nationkey,
         CAST(round(c_acctbal * 100) AS BIGINT) AS cents
  FROM customer),
rng AS (SELECT min(cents) AS lo, max(cents) AS hi,
               count(*) AS ng FROM c),
binned AS (
  SELECT c_mktsegment, c_nationkey, ng,
         CAST(floor((cents - lo) / ((hi - lo) / {T_BINS} + 1)) AS INT)
           AS bin
  FROM c CROSS JOIN rng),
gdist AS (SELECT bin, count(*) AS gc FROM binned GROUP BY bin),
cells AS (
  SELECT c_mktsegment, c_nationkey, bin, ng, count(*) AS cc
  FROM binned GROUP BY 1, 2, 3, 4),
classes AS (
  SELECT c_mktsegment, c_nationkey, ng, sum(cc) AS nc
  FROM cells GROUP BY 1, 2, 3),
dense AS (
  SELECT cl.c_mktsegment, cl.c_nationkey, cl.nc, cl.ng, g.bin,
         coalesce(ce.cc, 0) AS cc, g.gc
  FROM classes cl CROSS JOIN gdist g
  LEFT JOIN cells ce ON ce.c_mktsegment = cl.c_mktsegment
       AND ce.c_nationkey = cl.c_nationkey AND ce.bin = g.bin),
cum AS (
  SELECT c_mktsegment, c_nationkey, nc, ng, bin,
         sum(cc) OVER (PARTITION BY c_mktsegment, c_nationkey
                       ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum_c,
         sum(gc) OVER (PARTITION BY c_mktsegment, c_nationkey
                       ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum_g
  FROM dense),
per_class AS (
  SELECT c_mktsegment, c_nationkey, nc, ng,
         sum(abs(cum_c * ng - cum_g * nc)) AS s
  FROM cum WHERE bin < {T_BINS - 1}
  GROUP BY 1, 2, 3, 4)
SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_classes,
       round(max(CAST(s AS DOUBLE)
                 / (CAST(nc AS DOUBLE) * CAST(ng AS DOUBLE)
                    * {T_BINS - 1})), 6) AS max_t,
       CAST(sum(CASE WHEN s * {T_MAX_DEN}
                     > nc * ng * {T_BINS - 1} * {T_MAX_NUM}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_violating
FROM per_class GROUP BY c_mktsegment
"""


def sketch_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    mins = materialize(_type_minima(spark, sf), eager=False)
    types = mins.select("event_type").distinct()
    pairs = (types.select(F.col("event_type").alias("type_a"))
             .join(types.select(F.col("event_type").alias("type_b")),
                   F.col("type_a") < F.col("type_b")))
    tagged = (pairs.join(mins, F.col("event_type").isin(
                  F.col("type_a"), F.col("type_b")) == F.lit(True))
              .select("type_a", "type_b", "h",
                      (F.col("event_type") == F.col("type_a"))
                      .cast("int").alias("in_a")))
    # per (pair, hash): present in a, in b, or both (shared users hash
    # identically, so "both" = two rows for one h)
    byh = (tagged.groupBy("type_a", "type_b", "h")
           .agg(F.max("in_a").alias("a"),
                F.max(1 - F.col("in_a")).alias("b")))
    pw = W.partitionBy("type_a", "type_b").orderBy("h")
    topk = (byh.withColumn("rn", F.row_number().over(pw))
            .filter(F.col("rn") <= KMV_K))
    est = (topk.groupBy("type_a", "type_b")
           .agg(F.count("*").alias("k_eff"),
                F.sum((F.col("a") * F.col("b"))).alias("coinc")))
    du = load(spark, sf, "events").select("event_type", "user_id").distinct()
    ab = (du.join(F.broadcast(pairs),
                  (F.col("event_type") == F.col("type_a"))
                  | (F.col("event_type") == F.col("type_b")))
          .groupBy("type_a", "type_b", "user_id")
          .agg(F.count("*").alias("sides"))
          .groupBy("type_a", "type_b")
          .agg(F.count("*").alias("n_union"),
               F.sum((F.col("sides") == 2).cast("int")).alias("n_both")))
    return (ab.join(est, ["type_a", "type_b"])
            .select("type_a", "type_b",
                    F.round(F.col("coinc").cast("double")
                            / F.col("k_eff").cast("double"), 6)
                    .alias("jaccard_est"),
                    F.round(F.col("n_both").cast("double")
                            / F.col("n_union").cast("double"), 6)
                    .alias("jaccard_exact")))


_HEX15 = " + ".join(
    f"(strpos('0123456789abcdef', substr(md, {i + 1}, 1)) - 1) "
    f"* {16 ** (14 - i)}" for i in range(15))

SKETCH_JACCARD_SQL = f"""
WITH e AS (
  SELECT DISTINCT event_type, user_id FROM events),
h AS (
  SELECT event_type, user_id, CAST({_HEX15} AS BIGINT) AS h
  FROM (SELECT event_type, user_id,
               md5(CAST(user_id AS VARCHAR)) AS md FROM e)),
mins AS (
  SELECT event_type, h FROM (
    SELECT event_type, h,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY h, user_id) AS rn
    FROM h) WHERE rn <= {KMV_K}),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b
  FROM (SELECT DISTINCT event_type FROM e) a,
       (SELECT DISTINCT event_type FROM e) b
  WHERE a.event_type < b.event_type),
byh AS (
  SELECT type_a, type_b, h,
         max(CASE WHEN mins.event_type = type_a THEN 1 ELSE 0 END) AS a,
         max(CASE WHEN mins.event_type = type_b THEN 1 ELSE 0 END) AS b
  FROM pairs JOIN mins ON mins.event_type IN (type_a, type_b)
  GROUP BY 1, 2, 3),
topk AS (
  SELECT type_a, type_b, a, b FROM (
    SELECT type_a, type_b, a, b,
           row_number() OVER (PARTITION BY type_a, type_b
                              ORDER BY h) AS rn
    FROM byh) WHERE rn <= {KMV_K}),
est AS (
  SELECT type_a, type_b, count(*) AS k_eff, sum(a * b) AS coinc
  FROM topk GROUP BY 1, 2),
ab AS (
  SELECT type_a, type_b, count(*) AS n_union,
         sum(CASE WHEN sides = 2 THEN 1 ELSE 0 END) AS n_both
  FROM (SELECT type_a, type_b, user_id, count(*) AS sides
        FROM pairs JOIN e ON e.event_type IN (type_a, type_b)
        GROUP BY 1, 2, 3)
  GROUP BY 1, 2)
SELECT type_a, type_b,
       round(CAST(coinc AS DOUBLE) / CAST(k_eff AS DOUBLE), 6)
         AS jaccard_est,
       round(CAST(n_both AS DOUBLE) / CAST(n_union AS DOUBLE), 6)
         AS jaccard_exact
FROM ab JOIN est USING (type_a, type_b)
"""


QUERIES = {
    "q99_t_closeness": q99_t_closeness,
    "sketch_jaccard": sketch_jaccard,
}

ORACLES = {
    "q99_t_closeness": Q99_SQL,
    "sketch_jaccard": SKETCH_JACCARD_SQL,
}
