"""Round-12 batch (builder extension, SURVEY §2C):

- ``sketch_union_distinct`` — KMV sketch MERGEABILITY, the property
  that makes sketches the 100 TB cardinality tool: per PAIR of event
  types, the distinct-user count of the UNION estimated by merging the
  two types' k-minimum-value sets (k smallest DISTINCT hashes of the
  concatenated minima — hashes depend only on user_id, so a user in
  both types dedupes naturally), graded against the exact union
  distinct.  Same md5→60-bit determinism as kmv_distinct_users
  (round11d), so the estimate is cross-engine EXACT and rides the
  value-hash oracle.  Never re-scans the raw stream per pair: pair
  sketches derive from the per-type minima table alone.
- ``text_tfidf_topk`` — per-document top-3 TF-IDF terms: one
  tokenization fold to (doc, term) TFs, document frequencies from the
  same table, idf = ln(N/df), doc-keyed rank window (bounded by a
  document's own vocabulary — never global).
- ``q98_fano_burstiness`` — dispersion index (Fano factor,
  variance/mean of hourly arrival counts) per event type over OBSERVED
  hours: >1 = bursty, <1 = regular.  Exact-integer moments
  (n·Σc² − (Σc)²) close in doubles once.
- ``day_funnel_conversion`` — strict-order daily funnel (first view →
  first later click → any later purchase within one user-day) rolled
  up per day-of-week with per-step reach counts.  Distinct from
  events_funnel (user-level lifetime firsts): this is the
  scoped product-analytics read-out.  DOW uses the q91 canon
  (epoch-day mod 7 — engine-proof integer arithmetic).

Scale: the KMV merge touches the raw stream once (per-type minima via
the round11d two-level pre-prune); pair fan-out is |types|² over
≤ 2k-row minima sets, and the per-pair rank window is bounded at 2k
rows (allowlist-free: partitioned by pair).  TF-IDF's rank is bounded
by per-doc vocabulary.  Fano folds to (type, hour) cells map-side.
The funnel is (user, day)-keyed end to end — three keyed joins,
no global window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from bigarrays_jl_spark.checkpointing import materialize
from bigarrays_jl_spark.operators.round11d import HASH_BITS, KMV_K
from bigarrays_jl_spark.sources.tables import load

TFIDF_TOPK = 3


def _type_minima(spark: SparkSession, sf: str) -> DataFrame:
    """(event_type, h): the KMV_K smallest 60-bit md5 user hashes per
    type, via the round11d two-level pre-prune (per-(type, range-
    bucket) counts pick the bucket prefix covering the first k rows,
    so the rank window sees ~k + n/1024 candidates per type)."""
    e = (load(spark, sf, "events")
         .select("event_type", "user_id").distinct()
         .withColumn("h", F.conv(F.substring(
             F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10)
             .cast("bigint")))
    b = e.withColumn("bk", F.shiftright(F.col("h"), HASH_BITS - 10))
    cnt = b.groupBy("event_type", "bk").agg(F.count("*").alias("c"))
    cw = (W.partitionBy("event_type").orderBy("bk")
          .rowsBetween(W.unboundedPreceding, 0))
    cut = (cnt.withColumn("cum", F.sum("c").over(cw))
           .filter(F.col("cum") - F.col("c") < KMV_K)
           .groupBy("event_type").agg(F.max("bk").alias("cut_bk")))
    cand = b.join(F.broadcast(cut), "event_type") \
            .filter(F.col("bk") <= F.col("cut_bk"))
    w = W.partitionBy("event_type").orderBy("h", "user_id")
    return (cand.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= KMV_K)
            .select("event_type", "h"))


def sketch_union_distinct(spark: SparkSession, sf: str) -> DataFrame:
    mins = materialize(_type_minima(spark, sf), eager=False)
    types = mins.select("event_type").distinct()
    pairs = (types.select(F.col("event_type").alias("type_a"))
             .join(types.select(F.col("event_type").alias("type_b")),
                   F.col("type_a") < F.col("type_b")))
    # merged sketch: k smallest DISTINCT h of the two minima sets (h is
    # a pure function of user_id, so shared users collapse)
    merged = (pairs.join(mins, F.col("event_type").isin(
                  F.col("type_a"), F.col("type_b")) == F.lit(True))
              .select("type_a", "type_b", "h").distinct())
    pw = W.partitionBy("type_a", "type_b").orderBy("h")
    ranked = merged.withColumn("rn", F.row_number().over(pw))
    kth = (ranked.filter(F.col("rn") == KMV_K)
           .select("type_a", "type_b", F.col("h").alias("kth")))
    # exact union distinct per pair (broadcast the tiny pair table)
    du = load(spark, sf, "events").select("event_type", "user_id").distinct()
    exact = (du.join(F.broadcast(pairs),
                     (F.col("event_type") == F.col("type_a"))
                     | (F.col("event_type") == F.col("type_b")))
             .groupBy("type_a", "type_b")
             .agg(F.countDistinct("user_id").alias("n_exact")))
    est = (F.when(F.col("kth").isNull(),
                  F.col("n_exact").cast("double"))
           .otherwise(F.lit(float(KMV_K - 1))
                      / (F.col("kth").cast("double")
                         / F.lit(float(2 ** HASH_BITS)))))
    return (exact.join(kth, ["type_a", "type_b"], "left")
            .select("type_a", "type_b",
                    F.col("n_exact").cast("bigint").alias("n_exact"),
                    F.round(est, 4).alias("kmv_estimate"),
                    F.round((est - F.col("n_exact").cast("double"))
                            / F.col("n_exact").cast("double"), 6)
                    .alias("rel_err")))


_HEX15 = " + ".join(
    f"(strpos('0123456789abcdef', substr(md, {i + 1}, 1)) - 1) "
    f"* {16 ** (14 - i)}" for i in range(15))

SKETCH_UNION_SQL = f"""
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
merged AS (
  SELECT DISTINCT type_a, type_b, h
  FROM pairs JOIN mins
    ON mins.event_type IN (type_a, type_b)),
kth AS (
  SELECT type_a, type_b, h AS kth FROM (
    SELECT type_a, type_b, h,
           row_number() OVER (PARTITION BY type_a, type_b
                              ORDER BY h) AS rn
    FROM merged) WHERE rn = {KMV_K}),
exact AS (
  SELECT type_a, type_b, count(DISTINCT user_id) AS n_exact
  FROM pairs JOIN e ON e.event_type IN (type_a, type_b)
  GROUP BY 1, 2)
SELECT type_a, type_b, CAST(n_exact AS BIGINT) AS n_exact,
       round(CASE WHEN kth IS NULL THEN CAST(n_exact AS DOUBLE)
             ELSE CAST({KMV_K - 1} AS DOUBLE)
                  / (CAST(kth AS DOUBLE)
                     / CAST({2 ** HASH_BITS} AS DOUBLE)) END, 4)
         AS kmv_estimate,
       round((CASE WHEN kth IS NULL THEN CAST(n_exact AS DOUBLE)
              ELSE CAST({KMV_K - 1} AS DOUBLE)
                   / (CAST(kth AS DOUBLE)
                      / CAST({2 ** HASH_BITS} AS DOUBLE)) END
              - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE), 6)
         AS rel_err
FROM exact LEFT JOIN kth USING (type_a, type_b)
"""


def text_tfidf_topk(spark: SparkSession, sf: str) -> DataFrame:
    toks = (load(spark, sf, "documents")
            .select("doc_id",
                    F.explode(F.split(F.trim(F.lower(F.col("text"))),
                                      r"\s+")).alias("term")))
    # THREE consumers need the term-frequency table (df, n_docs, the
    # scoring join) — without the checkpoint each one re-tokenized the
    # corpus, and the vocab-sized df table shuffle-joined the postings
    # (r13: the sf1 proof read 7.5× on exactly those two defects; the
    # bm25 sibling with the checkpoint+broadcast shape reads 1.9×)
    tf = materialize(toks.groupBy("doc_id", "term")
                     .agg(F.count("*").alias("tf")), eager=False)
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    # same doc set as toks (groupBy preserves it) without re-tokenizing
    n = tf.select("doc_id").distinct().agg(
        F.count("*").cast("double").alias("n_docs"))
    scored = (tf.join(F.broadcast(dfreq), "term")
              .crossJoin(F.broadcast(n))
              .withColumn("tfidf", F.round(
                  F.col("tf").cast("double")
                  * F.log(F.col("n_docs") / F.col("df").cast("double")),
                  6)))
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TFIDF_TOPK)
            .select("doc_id", "term",
                    F.col("tf").cast("bigint").alias("tf"),
                    "tfidf", F.col("rank").cast("int").alias("rank")))


TFIDF_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
  FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM toks),
scored AS (
  SELECT doc_id, term, tf,
         round(CAST(tf AS DOUBLE)
               * ln(n_docs / CAST(df AS DOUBLE)), 6) AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN n)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, tfidf,
       CAST(rank AS INT) AS rank
FROM (SELECT doc_id, term, tf, tfidf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, term) AS rank
      FROM scored)
WHERE rank <= {TFIDF_TOPK}
"""


def q98_fano_burstiness(spark: SparkSession, sf: str) -> DataFrame:
    cells = (load(spark, sf, "events")
             .select("event_type",
                     F.floor(F.col("ts").cast("long") / 3600)
                      .cast("bigint").alias("hour"))
             .groupBy("event_type", "hour")
             .agg(F.count("*").alias("c")))
    m = (cells.groupBy("event_type")
         .agg(F.count("*").alias("n"),
              F.sum("c").alias("s"),
              F.sum(F.col("c") * F.col("c")).alias("ss")))
    n = F.col("n").cast("double")
    mean = F.col("s").cast("double") / n
    # population variance over observed hours: Σc²/n − mean²; Fano in
    # one exact-integer expression: (n·Σc² − (Σc)²) / (n·Σc)
    fano = ((n * F.col("ss").cast("double")
             - F.col("s").cast("double") * F.col("s").cast("double"))
            / (n * F.col("s").cast("double")))
    return m.select("event_type",
                    F.col("n").cast("bigint").alias("n_hours"),
                    F.round(mean, 6).alias("mean_per_hour"),
                    F.round(fano, 6).alias("fano"))


FANO_SQL = """
WITH cells AS (
  SELECT event_type,
         CAST(floor(epoch_us(ts) / 1000000) AS BIGINT) // 3600 AS hour,
         count(*) AS c
  FROM events GROUP BY 1, 2),
m AS (
  SELECT event_type, count(*) AS n, sum(c) AS s, sum(c * c) AS ss
  FROM cells GROUP BY 1)
SELECT event_type, CAST(n AS BIGINT) AS n_hours,
       round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_per_hour,
       round((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
              - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE)), 6) AS fano
FROM m
"""


def day_funnel_conversion(spark: SparkSession, sf: str) -> DataFrame:
    """Strict-order daily funnel per user-day: first view, then first
    click AFTER it, then any purchase after that click — all within
    one (user, calendar-day) scope, rolled up per day-of-week with the
    per-step reach counts.  (A 30-min-session scope is vacuous on this
    corpus — 95% of sessions are single-event — so the daily scope is
    the funnel that actually measures something; events_funnel remains
    the user-LIFETIME variant.)"""
    e = load(spark, sf, "events").select(
        "user_id", F.col("ts").cast("long").alias("sec"), "event_type"
    ).withColumn("day", F.floor(F.col("sec") / 86400).cast("bigint"))
    ud = e.groupBy("user_id", "day").agg(F.count("*").alias("n"))
    v = (e.filter(F.col("event_type") == "view")
         .groupBy("user_id", "day").agg(F.min("sec").alias("v")))
    c = (e.filter(F.col("event_type") == "click")
         .join(v, ["user_id", "day"])
         .filter(F.col("sec") > F.col("v"))
         .groupBy("user_id", "day").agg(F.min("sec").alias("c")))
    p = (e.filter(F.col("event_type") == "purchase")
         .join(c, ["user_id", "day"])
         .filter(F.col("sec") > F.col("c"))
         .groupBy("user_id", "day").agg(F.lit(1).alias("conv")))
    flags = (ud
             .join(v.select("user_id", "day", F.lit(1).alias("fv")),
                   ["user_id", "day"], "left")
             .join(c.select("user_id", "day", F.lit(1).alias("fc")),
                   ["user_id", "day"], "left")
             .join(p, ["user_id", "day"], "left"))
    dow = (F.col("day") % 7).cast("int")
    return (flags.groupBy(dow.alias("dow"))
            .agg(F.count("*").cast("bigint").alias("n_user_days"),
                 F.sum(F.coalesce("fv", F.lit(0))).cast("bigint")
                  .alias("n_reached_view"),
                 F.sum(F.coalesce("fc", F.lit(0))).cast("bigint")
                  .alias("n_reached_click"),
                 F.sum(F.coalesce("conv", F.lit(0))).cast("bigint")
                  .alias("n_converted"))
            .withColumn("rate", F.round(
                F.col("n_converted").cast("double")
                / F.col("n_user_days").cast("double"), 6)))


DAY_FUNNEL_SQL = """
WITH e AS (
  SELECT user_id,
         CAST(floor(epoch_us(ts) / 1000000) AS BIGINT) AS sec,
         CAST(floor(epoch_us(ts) / 1000000) AS BIGINT) // 86400 AS day,
         event_type
  FROM events),
ud AS (SELECT user_id, day, count(*) AS n FROM e GROUP BY 1, 2),
v AS (SELECT user_id, day, min(sec) AS v FROM e
      WHERE event_type = 'view' GROUP BY 1, 2),
c AS (SELECT e.user_id, e.day, min(sec) AS c
      FROM e JOIN v ON e.user_id = v.user_id AND e.day = v.day
      WHERE event_type = 'click' AND sec > v
      GROUP BY 1, 2),
p AS (SELECT DISTINCT e.user_id, e.day, 1 AS conv
      FROM e JOIN c ON e.user_id = c.user_id AND e.day = c.day
      WHERE event_type = 'purchase' AND sec > c.c)
SELECT CAST(day % 7 AS INT) AS dow,
       CAST(count(*) AS BIGINT) AS n_user_days,
       CAST(sum(CASE WHEN v.v IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_reached_view,
       CAST(sum(CASE WHEN c.c IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_reached_click,
       CAST(sum(coalesce(conv, 0)) AS BIGINT) AS n_converted,
       round(CAST(sum(coalesce(conv, 0)) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 6) AS rate
FROM ud LEFT JOIN v USING (user_id, day)
        LEFT JOIN c USING (user_id, day)
        LEFT JOIN p USING (user_id, day)
GROUP BY 1
"""


QUERIES = {
    "sketch_union_distinct": sketch_union_distinct,
    "text_tfidf_topk": text_tfidf_topk,
    "q98_fano_burstiness": q98_fano_burstiness,
    "day_funnel_conversion": day_funnel_conversion,
}

ORACLES = {
    "sketch_union_distinct": SKETCH_UNION_SQL,
    "text_tfidf_topk": TFIDF_SQL,
    "q98_fano_burstiness": FANO_SQL,
    "day_funnel_conversion": DAY_FUNNEL_SQL,
}
