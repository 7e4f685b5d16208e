"""Sample-based estimation with in-query verification (builder
extension, SURVEY §2C round 8).

``text_heavy_hitters`` finds corpus heavy hitters (terms in ≥ 1% of
documents) exactly, and ALONGSIDE each exact count carries the estimate
a 25% deterministic document sample would have produced plus a
``within_tol`` boolean — the q31_approx_aggs pattern generalized:
sketch/sample paths are graded against exact answers INSIDE the query,
so the accuracy claim itself is part of the hash-checked output.

Why this shape matters at 100 TB: the sample path is the one you
actually run on the full corpus (25% of the explode/shuffle), and the
exact path is the audit you run on a slice to calibrate the tolerance.
Running both over the same data here is the calibration harness.

The sample is the md5 hash-bucket canon (``pipeline._hash_bucket`` —
deterministic, rerun-stable, both engines hash the same bytes), never
``rand()``.

The sketch family: KMV distinct counts (``kmv_distinct_users``, its
union and Jaccard merges), the bounded decimal-HDR histogram
(``events_hdr_quantiles``/``events_hdr_merge``), the Count-Min heavy-
hitter audit and the exact A-RES weighted sample.  ``_HEX15`` and
``kmv_hash`` are the one KMV hash, in SQL and in Python.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from bigarrays_jl_spark.checkpointing import materialize
from bigarrays_jl_spark.functions import tokens as _toks
from bigarrays_jl_spark.functions.expressions import shingle_array
from bigarrays_jl_spark.operators.ordering import bucketed_quantile_picks
from bigarrays_jl_spark.operators.pipeline import _hash_bucket, _hex8
from bigarrays_jl_spark.sources.tables import load

HH_MIN_FRAC = 0.01      # heavy hitter: doc_freq >= 1% of corpus
SAMPLE_PCT = 25         # deterministic sample size (percent)
# estimate accepted within 50% relative error or ±8 docs absolute —
# generous because a 25% sample of a small demo corpus is noisy; the
# boolean is part of the output, so the accuracy claim is hash-checked
TOL_REL = 0.5
TOL_ABS = 8


def text_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents")
    n_docs = d.agg(F.count("*").cast("double").alias("n"))
    toks = d.select("doc_id", F.explode(_toks()).alias("term"))
    exact = toks.groupBy("term").agg(
        F.countDistinct("doc_id").alias("doc_freq"))
    sampled = (toks.filter(_hash_bucket("doc_id") < SAMPLE_PCT)
               .groupBy("term")
               .agg((F.countDistinct("doc_id") * (100 // SAMPLE_PCT))
                    .alias("est_doc_freq")))
    err_ok = (F.abs(F.coalesce(F.col("est_doc_freq"), F.lit(0))
                    - F.col("doc_freq"))
              <= F.greatest(TOL_REL * F.col("doc_freq"), F.lit(TOL_ABS)))
    return (exact.crossJoin(F.broadcast(n_docs))
            .filter(F.col("doc_freq") >= HH_MIN_FRAC * F.col("n"))
            .join(sampled, "term", "left")
            .select("term", "doc_freq",
                    F.coalesce("est_doc_freq", F.lit(0)).cast("bigint")
                     .alias("est_doc_freq"),
                    err_ok.alias("within_tol")))


TEXT_HEAVY_HITTERS_SQL = rf"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
           AS term
  FROM documents),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
exact AS (SELECT term, count(DISTINCT doc_id) AS doc_freq
          FROM tok GROUP BY term),
sampled AS (
  SELECT term,
         count(DISTINCT doc_id) * {100 // SAMPLE_PCT} AS est_doc_freq
  FROM tok
  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
          % 100 < {SAMPLE_PCT}
  GROUP BY term)
SELECT e.term, e.doc_freq,
       CAST(coalesce(s.est_doc_freq, 0) AS BIGINT) AS est_doc_freq,
       abs(coalesce(s.est_doc_freq, 0) - e.doc_freq)
         <= greatest({TOL_REL} * e.doc_freq, {TOL_ABS}) AS within_tol
FROM exact e CROSS JOIN n LEFT JOIN sampled s ON e.term = s.term
WHERE e.doc_freq >= {HH_MIN_FRAC} * n.n
"""


SAMPLE_K = 50
# multiplicative-hash uniformizer (Knuth 2654435761) over 24 bits so
# U^4 < 2^96 fits decimal(38,0) exactly on both engines
U_MULT = 2654435761
U_BITS = 24
U_MOD = 1 << U_BITS


# ``sample_weighted_exact`` — weighted sampling WITHOUT replacement
# (Efraimidis–Spirakis A-RES) made cross-engine deterministic: the
# uniform is a multiplicative-hash uniformizer U ∈ [0, 2²⁴) of doc_id,
# and the A-RES priority u^(1/w) is compared via EXACT INTEGER keys —
# for w ∈ {1,2,4}, u^(1/w) order-embeds as U^(4/w)·2^(96−24·(4/w))
# (common denominator 2⁹⁶), so there is no transcendental and no IEEE
# anywhere; ties are impossible modulo hash collisions, which the
# doc_id tie-break settles identically on both engines.  This is the
# streaming-reservoir-compatible sampler a curation pipeline uses for
# weighted corpus subsetting.

def sample_weighted_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Top-50 A-RES weighted sample of documents (w: src0→4,
    src1-3→2, else 1) with exact integer priorities.

    u^(1/w) for u = U/2²⁴, w ∈ {1,2,4} order-embeds as the integer
    U^(4/w) · 2^(96−24·(4/w)); TakeOrdered keeps the global sort off
    the plan.  rank is the output key (pure integers end to end)."""
    u = (F.col("doc_id") * F.lit(U_MULT)) % F.lit(U_MOD)
    d = load(spark, sf, "documents").select(
        "doc_id", "source",
        F.when(F.col("source") == "src0", 4)
         .when(F.col("source").isin("src1", "src2", "src3"), 2)
         .otherwise(1).alias("wt"),
        u.cast("decimal(38,0)").alias("u"))
    key = (F.when(F.col("wt") == 4,
                  F.col("u") * F.lit(str(2 ** 72)).cast("decimal(38,0)"))
            .when(F.col("wt") == 2,
                  F.col("u") * F.col("u")
                  * F.lit(str(2 ** 48)).cast("decimal(38,0)"))
            .otherwise((F.col("u") * F.col("u"))
                       * (F.col("u") * F.col("u"))))
    ranked = (d.select("doc_id", "source",
                       F.col("wt").cast("int").alias("wt"),
                       key.alias("k"))
               .orderBy(F.col("k").desc(), F.col("doc_id"))
               .limit(SAMPLE_K))
    # This unpartitioned window DOES emit Spark's SinglePartition WARN,
    # and that is fine BY CONSTRUCTION: its input is the TakeOrdered
    # top-SAMPLE_K rows above (a 50-row bounded set, never the corpus),
    # which is exactly why the repo-wide no-funnel gate recognizes the
    # post-limit() pattern as bounded and does not flag it (r16 verdict
    # task 6 — don't re-investigate the warning).
    win = W.orderBy(F.col("k").desc(), F.col("doc_id"))
    return ranked.select(
        F.row_number().over(win).cast("int").alias("rank"),
        "doc_id", "source", "wt")


SAMPLE_WEIGHTED_SQL = f"""
WITH d AS (
  SELECT doc_id, source,
         CASE WHEN source = 'src0' THEN 4
              WHEN source IN ('src1', 'src2', 'src3') THEN 2
              ELSE 1 END AS wt,
         CAST((doc_id * {U_MULT}) % {U_MOD} AS HUGEINT) AS u
  FROM documents),
k AS (
  SELECT doc_id, source, wt,
         CASE WHEN wt = 4 THEN u * CAST({2 ** 72} AS HUGEINT)
              WHEN wt = 2 THEN u * u * CAST({2 ** 48} AS HUGEINT)
              ELSE u * u * u * u END AS k
  FROM d)
SELECT CAST(row_number() OVER (ORDER BY k DESC, doc_id) AS INT) AS rank,
       doc_id, source, CAST(wt AS INT) AS wt
FROM k
ORDER BY k DESC, doc_id
LIMIT {SAMPLE_K}
"""


KMV_K = 64
HASH_BITS = 60                      # 15 hex digits: exact in int64/double


# ``kmv_distinct_users`` — K-Minimum-Values distinct-count sketch made
# cross-engine DETERMINISTIC: the hash is md5 (identical text in both
# engines, first 15 hex digits → 60-bit integer), so the k-th minimum
# — and therefore the KMV estimate (k−1)/(kth_min/2⁶⁰) — is the same
# EXACT value on both sides, letting a sketch algorithm ride the full
# value-hash oracle instead of a tolerance band.  Per event type:
# exact distinct users, the KMV estimate from k = 64 minima, and the
# signed relative error.  The sketch class every 100 TB cardinality
# dashboard runs (HLL's plan shape, but auditable).

def _user_hashes(spark: SparkSession, sf: str) -> DataFrame:
    """(event_type, user_id, h): distinct users per type with their
    60-bit KMV hash (``_HEX15`` in the oracles)."""
    return (load(spark, sf, "events")
            .select("event_type", "user_id").distinct()
            .withColumn("h", F.conv(F.substring(
                F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10)
                .cast("bigint")))


def _ranked_minima(e: DataFrame) -> DataFrame:
    """``e``'s candidate rows for the KMV_K smallest hashes per type,
    ranked by (h, user_id) in ``rn``; rows with rn <= KMV_K are exact.

    Exact k-th-min with a REAL pre-prune (not just a per-type window:
    one event type can hold most of a 100 TB corpus's users, so the
    bare rank window funnels that type through one task).  Two-level
    top-K-min: bucket h into NB ordered range slices (shiftright —
    exact, monotone in h), count per (type, bucket) — map-side
    combinable — then keep only the prefix of buckets needed to cover
    the first K rows (cum − c < K ⇒ the bucket still contributes).
    The cumulative window runs over ≤ NB rows per type (fixed domain,
    allowlisted); the rank window then sees ~K + n/NB candidate rows
    per type instead of every distinct (type, user).  Exact for ANY
    distribution: skew only widens the candidate set, never drops the
    true k-th minimum."""
    NB_SHIFT = HASH_BITS - 10                     # 1024 range buckets
    b = e.withColumn("bk", F.shiftright(F.col("h"), NB_SHIFT))
    cnt = b.groupBy("event_type", "bk").agg(F.count("*").alias("c"))
    cw = (W.partitionBy("event_type").orderBy("bk")
          .rowsBetween(W.unboundedPreceding, 0))
    cut = (cnt.withColumn("cum", F.sum("c").over(cw))
           .filter(F.col("cum") - F.col("c") < KMV_K)
           .groupBy("event_type").agg(F.max("bk").alias("cut_bk")))
    cand = b.join(F.broadcast(cut), "event_type") \
            .filter(F.col("bk") <= F.col("cut_bk"))
    w = W.partitionBy("event_type").orderBy("h", "user_id")
    return cand.withColumn("rn", F.row_number().over(w))


def kmv_distinct_users(spark: SparkSession, sf: str) -> DataFrame:
    """Per event type: exact distinct users, the deterministic KMV
    estimate from the 64 smallest md5 values, and the relative error."""
    e = _user_hashes(spark, sf)
    kth = (_ranked_minima(e).filter(F.col("rn") == KMV_K)
           .select("event_type", F.col("h").alias("kth")))
    exact = (e.groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("n_exact")))
    # sub-k keys (a corpus with fewer than k distinct users) estimate
    # exactly by fill count — the standard KMV small-cardinality case,
    # and what the streaming twin reports before its sketch fills
    est = (F.when(F.col("kth").isNull(),
                  F.col("n_exact").cast("double"))
           .otherwise(F.lit(float(KMV_K - 1))
                      / (F.col("kth").cast("double")
                         / F.lit(float(2 ** HASH_BITS)))))
    return (exact.join(kth, "event_type", "left")
            .select("event_type",
                    F.col("n_exact").cast("bigint").alias("n_exact"),
                    F.round(est, 4).alias("kmv_estimate"),
                    F.round((est - F.col("n_exact").cast("double"))
                            / F.col("n_exact").cast("double"), 6)
                    .alias("rel_err")))


# hex → int digit-wise (the simhash-oracle idiom): DuckDB has no
# conv(); 15 nibbles keep the value < 2^60, exact in BIGINT
_HEX15 = " + ".join(
    f"(strpos('0123456789abcdef', substr(md, {i + 1}, 1)) - 1) "
    f"* {16 ** (14 - i)}" for i in range(15))


# the oracles' twin of _user_hashes: CTE e (distinct users per type)
# and CTE h (their hash); _pair_minima's twin adds mins and the type
# pairs the sketch merges run over
_USER_HASHES_CTE = f"""WITH e AS (
  SELECT DISTINCT event_type, user_id FROM events),
h AS (
  SELECT event_type, user_id, CAST({_HEX15} AS BIGINT) AS h
  FROM (SELECT event_type, user_id,
               md5(CAST(user_id AS VARCHAR)) AS md FROM e)),"""
_TYPE_PAIR_MINIMA_CTES = _USER_HASHES_CTE + f"""
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
  WHERE a.event_type < b.event_type),"""


def kmv_hash(uid) -> int:
    """The KMV hash in Python: the first 15 hex digits of md5(str(uid))
    as an int < 2^60 — the value ``_HEX15`` computes in SQL."""
    return int(hashlib.md5(str(uid).encode()).hexdigest()[:15], 16)

KMV_SQL = f"""
{_USER_HASHES_CTE}
kth AS (
  SELECT event_type, h AS kth FROM (
    SELECT event_type, h,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY h, user_id) AS rn
    FROM h) WHERE rn = {KMV_K}),
exact AS (
  SELECT event_type, count(DISTINCT user_id) AS n_exact FROM e GROUP BY 1)
SELECT event_type, CAST(n_exact AS BIGINT) AS n_exact,
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
FROM exact LEFT JOIN kth USING (event_type)
"""


# ``sketch_union_distinct`` — KMV sketch MERGEABILITY, the property
# that makes sketches the 100 TB cardinality tool: per PAIR of event
# types, the distinct-user count of the UNION estimated by merging the
# two types' k-minimum-value sets (k smallest DISTINCT hashes of the
# concatenated minima — hashes depend only on user_id, so a user in
# both types dedupes naturally), graded against the exact union
# distinct.  Same md5→60-bit determinism as kmv_distinct_users
# (kmv_distinct_users), so the estimate is cross-engine EXACT and rides the
# value-hash oracle.  Never re-scans the raw stream per pair: pair
# sketches derive from the per-type minima table alone.

def _pair_minima(spark: SparkSession, sf: str):
    """(mins, pairs): the KMV_K smallest 60-bit md5 user hashes per type
    as (event_type, h) — ``_ranked_minima``, materialized once for both
    of its consumers — and every type pair (type_a < type_b) the sketch
    merges run over."""
    # without it `sketch_union_distinct`'s optimized plan has 126 lines, not 30
    mins = materialize(_ranked_minima(_user_hashes(spark, sf))
                       .filter(F.col("rn") <= KMV_K)
                       .select("event_type", "h"), eager=False)
    types = mins.select("event_type").distinct()
    pairs = (types.select(F.col("event_type").alias("type_a"))
             .join(types.select(F.col("event_type").alias("type_b")),
                   F.col("type_a") < F.col("type_b")))
    return mins, pairs


def _pair_users(spark: SparkSession, sf: str, pairs: DataFrame) -> DataFrame:
    """Each distinct (event_type, user_id) once per pair its type is in
    (the tiny pair table broadcasts) — the exact side of the merges."""
    du = load(spark, sf, "events").select("event_type", "user_id").distinct()
    return du.join(F.broadcast(pairs),
                   (F.col("event_type") == F.col("type_a"))
                   | (F.col("event_type") == F.col("type_b")))


def sketch_union_distinct(spark: SparkSession, sf: str) -> DataFrame:
    mins, pairs = _pair_minima(spark, sf)
    # merged sketch: k smallest DISTINCT h of the two minima sets (h is
    # a pure function of user_id, so shared users collapse)
    merged = (pairs.join(mins, F.col("event_type").isin(
                  F.col("type_a"), F.col("type_b")) == F.lit(True))
              .select("type_a", "type_b", "h").distinct())
    pw = W.partitionBy("type_a", "type_b").orderBy("h")
    ranked = merged.withColumn("rn", F.row_number().over(pw))
    kth = (ranked.filter(F.col("rn") == KMV_K)
           .select("type_a", "type_b", F.col("h").alias("kth")))
    # exact union distinct per pair
    exact = (_pair_users(spark, sf, pairs)
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


SKETCH_UNION_SQL = f"""
{_TYPE_PAIR_MINIMA_CTES}
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


# ``sketch_jaccard`` — KMV set-similarity: for each event-type pair,
# the Jaccard estimated from the k smallest union hashes (fraction of
# them present in BOTH types' sketches — the classic k-min coincidence
# estimator) beside the exact Jaccard.  Like sketch_union_distinct
# above, the estimate derives from the per-type minima alone —
# never a re-scan — and the md5 canon makes it cross-engine EXACT.
#
# Scale: the sketch Jaccard inherits the kmv_distinct_users two-level
# pre-prune and pair windows bounded at 2k rows.

def sketch_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    mins, pairs = _pair_minima(spark, sf)
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
    ab = (_pair_users(spark, sf, pairs)
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


SKETCH_JACCARD_SQL = f"""
{_TYPE_PAIR_MINIMA_CTES}
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


# ``events_hdr_quantiles`` — P50/P90/P99/P999 of the event value per type
# from a BOUNDED, EXACTLY-MERGEABLE decimal-HDR histogram: each value's
# cents map to the bucket (digit count of cents, first two significant
# digits), giving ≤ ~900 possible buckets per key at ANY data size with
# ≤ ~5 % relative value error — the HdrHistogram idea in decimal, made
# cross-engine exact (bucket id and lower bound are pure integer/string
# ops, no log()).  This is the bounded-state complement to the exact
# value-domain quantiles (leadtime_quantiles, q70): those carry the full
# distinct-value domain (fine in batch, unbounded in a stream); the HDR
# buckets are what a production latency pipeline actually keeps, and
# ``streaming/hdr.py`` runs the SAME histogram as per-batch mergeable
# partials with a snapshot == batch pin.
#
# The quantile pick itself runs through ``ordering.bucketed_quantile_pick``
# (the repo's one quantile canon — no single-partition window), and the
# reported estimate is the bucket LOWER BOUND in cents (a deterministic
# integer), so the whole result rides the exact value-hash oracle
# instead of a tolerance band.
#
# Scale shape: one map-side fold to ≤ (types × 900) bucket rows, three
# two-level picks over that bounded table, broadcast totals.  At 100 TB
# the histogram is still ≤ 900 rows per key.

def hdr_bucket_cents(cents: Column) -> Column:
    """Cents → decimal-HDR bucket LOWER BOUND (also the bucket id): the
    first two significant decimal digits, zero-padded to the original
    magnitude.  45 678 → 45 000; 94 → 94; 7 → 7; 0 → 0.  Negative
    cents (refunds, deltas — possible on arbitrary streaming feeds)
    bucket by magnitude with the bound on the LOW side: −45 678 →
    −46 000, so lb(c) ≤ c holds over the whole integer line and lb is
    monotone (r14 review: counting the '-' as a digit silently returned
    an UPPER bound for negatives).  A negative cents value EXACTLY on
    its magnitude's bucket edge is its own lower bound — lb(−100) =
    −100, not −110 (r14 advice: mapping edge values one bucket lower
    made negative buckets (lb, lb+w] with ~10 % relative error at the
    edges; with the edge case both signs are [lb, lb+w) and the ≤ ~5 %
    bound holds everywhere).  Pure string/integer ops — identical in
    Spark and DuckDB by construction."""
    m = F.abs(cents)
    s = m.cast("string")
    d = F.length(s)
    head = F.substring(s, 1, 2).cast("bigint")
    # 10^(d-2) as an exact BIGINT: repeat('0', d-2) appended to '1'
    pow10 = F.concat(F.lit("1"), F.repeat(F.lit("0"), d - 2)).cast("bigint")
    mag_lo = head * pow10                       # lower edge of |c|'s bucket
    mag_hi = (head + 1) * pow10                 # upper edge (exclusive)
    return (F.when(d <= 2, cents)               # |c| ≤ 99: exact bucket
             .when(cents >= 0, mag_lo)
             .when(m == mag_lo, -mag_lo)        # exact negative edge
             .otherwise(-mag_hi))


def events_hdr_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    e = load(spark, sf, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("c"))
    # without it `events_hdr_quantiles` runs 2 parquet scans, not 1
    hist = materialize(
        e.select("event_type", hdr_bucket_cents(F.col("c")).alias("lb"))
         .groupBy("event_type", "lb").agg(F.count("*").alias("n")),
        eager=False)
    # all four fractions ride ONE shared pick chain (r18: per-pick
    # chains re-ran the bucket fold + checkpoint per fraction)
    picks = bucketed_quantile_picks(
        hist, "event_type", "lb", "n",
        [(1, 2, "p50_cents"), (9, 10, "p90_cents"),
         (99, 100, "p99_cents"), (999, 1000, "p999_cents")])
    tot = (hist.groupBy("event_type")
           .agg(F.sum("n").cast("bigint").alias("n_events"),
                F.count("*").cast("bigint").alias("n_buckets")))
    return (tot.join(picks, "event_type")
            .select("event_type", "n_events", "n_buckets",
                    F.col("p50_cents").cast("bigint").alias("p50_cents"),
                    F.col("p90_cents").cast("bigint").alias("p90_cents"),
                    F.col("p99_cents").cast("bigint").alias("p99_cents"),
                    F.col("p999_cents").cast("bigint")
                     .alias("p999_cents")))


# the bucket map and the den·cum >= num·tot pick, in plain SQL over the
# same integer domain
_HDR_BUCKET_SQL = """
  CASE WHEN length(CAST(abs(c) AS VARCHAR)) <= 2 THEN c
       WHEN c >= 0 THEN
         CAST(substr(CAST(abs(c) AS VARCHAR), 1, 2) AS BIGINT)
         * CAST('1' || repeat('0', length(CAST(abs(c) AS VARCHAR)) - 2)
                AS BIGINT)
       WHEN abs(c) =
         CAST(substr(CAST(abs(c) AS VARCHAR), 1, 2) AS BIGINT)
         * CAST('1' || repeat('0', length(CAST(abs(c) AS VARCHAR)) - 2)
                AS BIGINT)
       THEN c
       ELSE
         -(CAST(substr(CAST(abs(c) AS VARCHAR), 1, 2) AS BIGINT) + 1)
         * CAST('1' || repeat('0', length(CAST(abs(c) AS VARCHAR)) - 2)
                AS BIGINT) END
"""

EVENTS_HDR_QUANTILES_SQL = f"""
WITH e AS (
  SELECT event_type,
         CAST(round(value * 100) AS BIGINT) AS c
  FROM events),
h AS (
  SELECT event_type, {_HDR_BUCKET_SQL} AS lb, count(*) AS n
  FROM e GROUP BY 1, 2),
cum AS (
  SELECT event_type, lb, n,
         sum(n) OVER (PARTITION BY event_type ORDER BY lb
                      ROWS UNBOUNDED PRECEDING) AS cum,
         sum(n) OVER (PARTITION BY event_type) AS tot
  FROM h)
SELECT event_type,
       CAST(max(tot) AS BIGINT) AS n_events,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(min(CASE WHEN 2 * cum >= tot THEN lb END) AS BIGINT)
         AS p50_cents,
       CAST(min(CASE WHEN 10 * cum >= 9 * tot THEN lb END) AS BIGINT)
         AS p90_cents,
       CAST(min(CASE WHEN 100 * cum >= 99 * tot THEN lb END) AS BIGINT)
         AS p99_cents,
       CAST(min(CASE WHEN 1000 * cum >= 999 * tot THEN lb END) AS BIGINT)
         AS p999_cents
FROM cum GROUP BY event_type
"""


def events_hdr_merge(spark: SparkSession, sf: str) -> DataFrame:
    """Two-sketch HDR merge (r14 verdict task 6): build INDEPENDENT
    decimal-HDR sketches over two disjoint shards of the event stream
    (user_id parity — both shards carry every event_type, so merging
    genuinely ADDS bucket counts instead of concatenating disjoint
    keys), merge them by bucket-count addition, and quote production
    percentiles (P50/P99/P999) off the merged sketch.

    The oracle recomputes the SAME quantiles over the unsharded stream
    in one pass — the value-hash equality IS the mergeability proof:
    merge-of-sketches == sketch-of-union, exactly, because integer
    bucket counts under addition are an exact commutative monoid.
    This is how a 1000-executor fleet (or N datacenters) runs it: one
    tiny sketch per shard, a ≤ 900-rows-per-key merge, no raw-value
    shuffle."""
    # exhaustive shard split: Spark's % keeps the dividend's sign
    # (-3 % 2 == -1) and NULL % 2 is NULL, so a plain ==0/==1 parity
    # pair would silently drop negative/NULL user_ids from BOTH shards
    # and break merge == recompute (r15 review); pmod + coalesce sends
    # every row to exactly one shard
    shard = F.coalesce(F.pmod(F.col("user_id"), F.lit(2)), F.lit(0))
    e = load(spark, sf, "events").select(
        "event_type", shard.alias("shard"),
        F.round(F.col("value") * 100).cast("bigint").alias("c"))

    def sketch(part: DataFrame) -> DataFrame:
        return (part.select("event_type",
                            hdr_bucket_cents(F.col("c")).alias("lb"))
                .groupBy("event_type", "lb").agg(F.count("*").alias("n")))

    s_even = sketch(e.filter(F.col("shard") == 0))
    s_odd = sketch(e.filter(F.col("shard") == 1))
    # without it `events_hdr_merge` runs 4 parquet scans, not 2
    merged = materialize(
        s_even.unionByName(s_odd)
              .groupBy("event_type", "lb")
              .agg(F.sum("n").alias("n")),
        eager=False)
    # all three fractions ride ONE shared pick chain (r18)
    picks = bucketed_quantile_picks(
        merged, "event_type", "lb", "n",
        [(1, 2, "p50_cents"), (99, 100, "p99_cents"),
         (999, 1000, "p999_cents")])
    tot = (merged.groupBy("event_type")
           .agg(F.sum("n").cast("bigint").alias("n_events")))
    return (tot.join(picks, "event_type")
            .select("event_type", "n_events",
                    F.col("p50_cents").cast("bigint").alias("p50_cents"),
                    F.col("p99_cents").cast("bigint").alias("p99_cents"),
                    F.col("p999_cents").cast("bigint")
                     .alias("p999_cents")))


# the oracle deliberately does NOT mirror the two-shard construction:
# it quantiles the unsharded stream directly, so equality proves
# merge-of-sketches == sketch-of-union (exact mergeability), not just
# that both engines ran the same arithmetic
EVENTS_HDR_MERGE_SQL = f"""
WITH e AS (
  SELECT event_type,
         CAST(round(value * 100) AS BIGINT) AS c
  FROM events),
h AS (
  SELECT event_type, {_HDR_BUCKET_SQL} AS lb, count(*) AS n
  FROM e GROUP BY 1, 2),
cum AS (
  SELECT event_type, lb, n,
         sum(n) OVER (PARTITION BY event_type ORDER BY lb
                      ROWS UNBOUNDED PRECEDING) AS cum,
         sum(n) OVER (PARTITION BY event_type) AS tot
  FROM h)
SELECT event_type,
       CAST(max(tot) AS BIGINT) AS n_events,
       CAST(min(CASE WHEN 2 * cum >= tot THEN lb END) AS BIGINT)
         AS p50_cents,
       CAST(min(CASE WHEN 100 * cum >= 99 * tot THEN lb END) AS BIGINT)
         AS p99_cents,
       CAST(min(CASE WHEN 1000 * cum >= 999 * tot THEN lb END) AS BIGINT)
         AS p999_cents
FROM cum GROUP BY event_type
"""


CM_D = 4            # hash rows
CM_W = 1024         # buckets per row
CM_TOPK = 20


def cm_bucket(j: int, gram: Column) -> Column:
    """Row-``j`` CM bucket of a gram: first 8 md5 nibbles of
    ``"j:gram"`` as an exact BIGINT, mod W — the repo's cross-engine
    hash idiom (dedup.py minhash, kmv_distinct_users)."""
    return (F.conv(F.substring(
        F.md5(F.concat(F.lit(f"{j}:"), gram)), 1, 8), 16, 10)
        .cast("bigint") % CM_W)


def gram_counts_of(docs: DataFrame) -> DataFrame:
    """Exact (gram, n) word-bigram counts of a ``text``-bearing frame —
    the shared front-end of the exact leg, the sketch build, and the
    streaming twin's per-batch partials (one canon, split on single
    spaces like the other n-gram operators)."""
    d = docs.select(F.split(F.col("text"), " ").alias("ws"))
    return (d.select(F.explode(shingle_array("ws", 2)).alias("gram"))
            .groupBy("gram").agg(F.count("*").alias("n")))


def gram_counts(spark: SparkSession, sf: str) -> DataFrame:
    return gram_counts_of(load(spark, sf, "documents"))


def cm_sketch_of(grams: DataFrame) -> DataFrame:
    """(gram, n) counts → the D×W bucket table ``(j, bucket, n)``.
    Built from the counted grams (not the raw explode) so the shuffle
    carries distinct-gram rows, then folds onto 4096 keys."""
    rows = grams.select(F.explode(F.array(*[
        F.struct(F.lit(j).alias("j"),
                 cm_bucket(j, F.col("gram")).alias("bucket"))
        for j in range(CM_D)])).alias("e"), "n")
    return (rows.select(F.col("e.j").alias("j"),
                        F.col("e.bucket").alias("bucket"), "n")
            .groupBy("j", "bucket").agg(F.sum("n").alias("n")))


def cm_heavyhitters(spark: SparkSession, sf: str) -> DataFrame:
    exact = gram_counts(spark, sf)
    sketch = cm_sketch_of(exact)
    top = (exact.orderBy(F.col("n").desc(), "gram").limit(CM_TOPK)
           .select("gram", F.col("n").alias("exact_n")))
    probes = top.select("gram", "exact_n", F.explode(F.array(*[
        F.struct(F.lit(j).alias("j"),
                 cm_bucket(j, F.col("gram")).alias("bucket"))
        for j in range(CM_D)])).alias("e")) \
        .select("gram", "exact_n", "e.j", "e.bucket")
    return (probes.join(sketch, ["j", "bucket"])
            .groupBy("gram", "exact_n")
            .agg(F.min("n").cast("bigint").alias("cm_est"))
            .select("gram",
                    F.col("exact_n").cast("bigint").alias("exact_n"),
                    "cm_est",
                    (F.col("cm_est") - F.col("exact_n")).cast("bigint")
                    .alias("overest")))


CM_HEAVYHITTERS_SQL = f"""
WITH w AS (
  SELECT string_split(text, ' ') AS ws FROM documents),
g AS (
  SELECT ws[i] || ' ' || ws[i + 1] AS gram
  FROM w, UNNEST(range(1, len(ws))) u(i)
  WHERE len(ws) >= 2),
exact AS (
  SELECT gram, count(*) AS n FROM g GROUP BY gram),
b AS (
  SELECT gram, n, j,
         CAST({_hex8("md5(CAST(j AS VARCHAR) || ':' || gram)")} AS BIGINT) % {CM_W}
           AS bucket
  FROM exact, UNNEST(range(0, {CM_D})) u(j)),
sketch AS (
  SELECT j, bucket, sum(n) AS bn FROM b GROUP BY j, bucket),
top AS (
  SELECT gram, n AS exact_n FROM exact
  ORDER BY n DESC, gram LIMIT {CM_TOPK}),
est AS (
  SELECT t.gram, t.exact_n, min(s.bn) AS cm_est
  FROM top t
  JOIN b ON b.gram = t.gram
  JOIN sketch s ON s.j = b.j AND s.bucket = b.bucket
  GROUP BY t.gram, t.exact_n)
SELECT gram, CAST(exact_n AS BIGINT) AS exact_n,
       CAST(cm_est AS BIGINT) AS cm_est,
       CAST(cm_est - exact_n AS BIGINT) AS overest
FROM est
"""


QUERIES = {
    "text_heavy_hitters": text_heavy_hitters,
    "sample_weighted_exact": sample_weighted_exact,
    "kmv_distinct_users": kmv_distinct_users,
    "sketch_union_distinct": sketch_union_distinct,
    "sketch_jaccard": sketch_jaccard,
    "events_hdr_quantiles": events_hdr_quantiles,
    "events_hdr_merge": events_hdr_merge,
    "cm_heavyhitters": cm_heavyhitters,
}

ORACLES = {
    "text_heavy_hitters": TEXT_HEAVY_HITTERS_SQL,
    "sample_weighted_exact": SAMPLE_WEIGHTED_SQL,
    "kmv_distinct_users": KMV_SQL,
    "sketch_union_distinct": SKETCH_UNION_SQL,
    "sketch_jaccard": SKETCH_JACCARD_SQL,
    "events_hdr_quantiles": EVENTS_HDR_QUANTILES_SQL,
    "events_hdr_merge": EVENTS_HDR_MERGE_SQL,
    "cm_heavyhitters": CM_HEAVYHITTERS_SQL,
}
