"""Round-10 third batch: SCD2 history build, positional-index phrase
search, and embedding covariance (distributed Gram matrix).

- scd2_history: the slowly-changing-dimension type-2 build — collapse
  a change stream into validity intervals [valid_from, valid_to) per
  key via gaps-and-islands (consecutive-duplicate suppression) + lead.
  Per-key windows only; state bounded by a key's change count.
- phrase_search: a positional inverted index (doc_id, pos, token) and
  a phrase query over it — the top corpus bigram is matched by
  position-adjacency join, the relational form of "phrase query
  against an inverted index".  The index is the exploded token
  stream; adjacency is an equi-join on (doc_id, pos+1).
- emb_covariance: the distributed linear-algebra class — the dim×dim
  covariance matrix from map-side outer-product partials: each vector
  emits its dim² products via a nested array transform (NO self-join,
  no shuffle of vectors), partial-aggregated by cell.  Shuffle is
  ∝ dim², independent of the corpus size — the shape PCA/whitening
  needs at 100 TB.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from bigarrays_jl_spark.checkpointing import materialize
from bigarrays_jl_spark.functions import tokens as _tokens
from bigarrays_jl_spark.sources.tables import load

# --------------------------------------------------------------------------
# scd2_history — SCD type-2 from the events change stream: each user's
# event_type over time is the tracked attribute; consecutive repeats
# collapse (gaps-and-islands via lag), each island becomes a validity
# interval [valid_from, valid_to) closed by the next island's start
# (lead), the last interval per user open (is_current).  Output is the
# compact per-type interval census: interval count, total closed
# duration (exact integer seconds), open-interval count.
#
# Scale shape: two per-user windows (lag to detect change, lead to
# close intervals) — per-key state ∝ that key's changes; the final
# census shuffle is attribute-cardinality-bounded.  Epoch-seconds
# canon for the duration arithmetic.
# --------------------------------------------------------------------------


def scd2_intervals(ev: DataFrame) -> DataFrame:
    """Island → interval canon: input ``(user_id, t, event_id,
    event_type)``, output SCD2 rows ``(user_id, event_type,
    valid_from, from_eid, valid_to)`` (``valid_to`` NULL = open).
    ``event_id`` tiebreak makes the ordering total (duplicate ts
    exist).  Shared verbatim by ``streaming.scd2`` so batch and
    streaming can never disagree on interval semantics."""
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    ch = (ev.withColumn("prev", F.lag("event_type").over(w))
          .filter(F.col("prev").isNull()
                  | (F.col("prev") != F.col("event_type"))))
    w2 = Window.partitionBy("user_id").orderBy("t", "event_id")
    return (ch.withColumn("valid_to", F.lead("t").over(w2))
            .select("user_id", "event_type",
                    F.col("t").alias("valid_from"),
                    F.col("event_id").alias("from_eid"), "valid_to"))


def scd2_history(spark: SparkSession, sf: str) -> DataFrame:
    ev = load(spark, sf, "events").select(
        "user_id", F.col("ts").cast("long").alias("t"), "event_type",
        "event_id")
    iv = scd2_intervals(ev)
    return (iv.groupBy("event_type")
            .agg(F.count("*").alias("n_intervals"),
                 F.sum(F.when(F.col("valid_to").isNotNull(),
                              F.col("valid_to") - F.col("valid_from"))
                       .otherwise(0)).cast("bigint")
                  .alias("closed_duration_s"),
                 F.sum(F.when(F.col("valid_to").isNull(), 1).otherwise(0))
                  .cast("bigint").alias("n_current")))


SCD2_HISTORY_SQL = """
WITH ev AS (
  SELECT user_id,
         CAST(floor(epoch_us(ts)/1000000) AS BIGINT) AS t,
         event_type, event_id
  FROM events),
ch AS (
  SELECT * FROM (
    SELECT user_id, t, event_type, event_id,
           lag(event_type) OVER (PARTITION BY user_id
                                 ORDER BY t, event_id) AS prev
    FROM ev)
  WHERE prev IS NULL OR prev <> event_type),
iv AS (
  SELECT user_id, event_type, t AS valid_from,
         lead(t) OVER (PARTITION BY user_id
                       ORDER BY t, event_id) AS valid_to
  FROM ch)
SELECT event_type, count(*) AS n_intervals,
       CAST(sum(CASE WHEN valid_to IS NOT NULL
                     THEN valid_to - valid_from ELSE 0 END) AS BIGINT)
         AS closed_duration_s,
       CAST(sum(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_current
FROM iv GROUP BY event_type
"""


# --------------------------------------------------------------------------
# phrase_search — positional inverted index + phrase query.  The index
# is the posexplode'd token stream (doc_id, pos, token); the query
# phrase is the corpus's top bigram (max count, then lexicographic —
# fully deterministic), matched by the adjacency equi-join
# index(w1)@pos ⋈ index(w2)@pos+1.  Output: per-doc match counts for
# the top ten docs (count desc, doc_id asc).
#
# Scale shape: the bigram stats and the match join are both keyed by
# token — the phrase's words prune the index scan to two posting
# lists (at 100 TB: partition the index BY TOKEN so a phrase query
# reads only its words' partitions — the inverted-index layout);
# candidate adjacency is |posting(w1)| ⋈ |posting(w2)| on
# (doc_id, pos), never the corpus.
# --------------------------------------------------------------------------


def phrase_search(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    idx = materialize(
        docs.select("doc_id",
                    F.posexplode(_tokens("text"))
                     .alias("pos", "token")), eager=False)
    nxt = idx.select("doc_id", (F.col("pos") - 1).alias("pos"),
                     F.col("token").alias("token2"))
    big = (idx.join(nxt, ["doc_id", "pos"])
           .groupBy("token", "token2").agg(F.count("*").alias("cnt")))
    top = (big.orderBy(F.col("cnt").desc(), "token", "token2").limit(1)
           .select(F.col("token").alias("w1"),
                   F.col("token2").alias("w2")))
    a = idx.join(F.broadcast(top), idx.token == F.col("w1")) \
           .select("doc_id", "pos", "w1", "w2")
    b = idx.select("doc_id", (F.col("pos") - 1).alias("pos"),
                   F.col("token").alias("tb"))
    hits = (a.join(b, ["doc_id", "pos"])
            .filter(F.col("tb") == F.col("w2"))
            .groupBy("doc_id", "w1", "w2")
            .agg(F.count("*").alias("n_matches")))
    return (hits.orderBy(F.col("n_matches").desc(), "doc_id").limit(10)
            .select("doc_id", "w1", "w2", "n_matches"))


PHRASE_SEARCH_SQL = r"""
WITH idx AS MATERIALIZED (
  -- parallel unnests zip in DuckDB; generate_subscripts supplies the
  -- 1-based position, shifted to posexplode's 0-based convention
  SELECT doc_id,
         CAST(generate_subscripts(
           regexp_split_to_array(trim(lower(text)), '\s+'), 1) - 1
           AS BIGINT) AS pos,
         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
  FROM documents),
big AS (
  SELECT a.token AS token, b.token AS token2, count(*) AS cnt
  FROM idx a JOIN idx b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  GROUP BY 1, 2),
top AS (
  SELECT token AS w1, token2 AS w2 FROM big
  ORDER BY cnt DESC, token, token2 LIMIT 1),
hits AS (
  SELECT a.doc_id, t.w1, t.w2, CAST(count(*) AS BIGINT) AS n_matches
  FROM idx a
  JOIN top t ON a.token = t.w1
  JOIN idx b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
            AND b.token = t.w2
  GROUP BY 1, 2, 3)
SELECT doc_id, w1, w2, n_matches FROM hits
ORDER BY n_matches DESC, doc_id LIMIT 10
"""


# --------------------------------------------------------------------------
# emb_covariance — dim×dim covariance of the embedding corpus from
# map-side Gram partials: each Arrow batch computes ONE integer
# dim×dim Gram matrix (numpy matmul over 1e-6-quantized fixed-point
# values) and emits its upper triangle — so the shuffle is dim² cells
# per BATCH, corpus-size-independent, and no per-element struct or
# decimal churn ever reaches the JVM (the first cut did the dim²
# expansion per VECTOR via nested array transforms and spent 16 s at
# sf0.1 on decimal ops; this shape does the same algebra in ~1 s).
# cov(i,j) = (Σx_i x_j − Σx_i·Σx_j/n)/n from the raw moments.
#
# Float parity (fixed-point canon): float32 inputs widen to double
# exactly; xi = round(x·10⁶) is tie-FREE — x·10⁶ = k + ½ exactly would
# need a 5⁶ denominator, impossible for a dyadic float — so numpy's
# rint, DuckDB's round, and any other correct rounding of the SAME
# product double agree exactly; from there everything is int64
# arithmetic (|xi| ≤ ~6e5, batch Gram sums ≪ 2⁶³) and the closing
# moment formula is one identical double expression on both engines.
# Upper triangle only (i <= j) — the matrix is symmetric.
# --------------------------------------------------------------------------

EMB_DIM = 64
EMB_Q = 1_000_000


def emb_covariance(spark: SparkSession, sf: str) -> DataFrame:
    e = load(spark, sf, "embeddings").select("embedding")

    def gram(it):
        import numpy as _np
        import pandas as _pd
        iu = _np.triu_indices(EMB_DIM)
        for b in it:
            if not len(b):
                continue
            X = _np.stack(b["embedding"].to_numpy()).astype(_np.float64)
            XI = _np.rint(X * EMB_Q).astype(_np.int64)
            G = XI.T @ XI
            rows = {"i": _np.concatenate(
                        [iu[0], _np.arange(EMB_DIM), [-1]]),
                    "j": _np.concatenate(
                        [iu[1], _np.full(EMB_DIM, -1), [-1]]),
                    "v": _np.concatenate(
                        [G[iu], XI.sum(axis=0), [XI.shape[0]]])}
            yield _pd.DataFrame(rows)

    stream = materialize(
        e.mapInPandas(gram, schema="i int, j int, v long"), eager=False)
    sxy = (stream.filter(F.col("j") >= 0)
           .groupBy("i", "j").agg(F.sum("v").alias("sxy")))
    sums = (stream.filter((F.col("j") == -1) & (F.col("i") >= 0))
            .groupBy("i").agg(F.sum("v").alias("sx")))
    n = (stream.filter(F.col("i") == -1)
         .agg(F.sum("v").cast("double").alias("n")))
    si = sums.select(F.col("i"), F.col("sx").alias("sxi"))
    sj = sums.select(F.col("i").alias("j"), F.col("sx").alias("sxj"))
    return (sxy.join(F.broadcast(si), "i").join(F.broadcast(sj), "j")
            .crossJoin(F.broadcast(n))
            .select(F.col("i").cast("bigint").alias("i"),
                    F.col("j").cast("bigint").alias("j"),
                    ((F.col("sxy").cast("double") * 1e-12
                      - (F.col("sxi").cast("double") * 1e-6)
                        * (F.col("sxj").cast("double") * 1e-6)
                        / F.col("n"))
                     / F.col("n")).alias("cov")))


EMB_COVARIANCE_SQL = f"""
WITH dims AS (SELECT CAST(range AS BIGINT) AS i FROM range(0, {EMB_DIM})),
q AS (
  SELECT e.vec_id, d.i,
         CAST(round(CAST(e.embedding[d.i + 1] AS DOUBLE) * {EMB_Q})
              AS BIGINT) AS xi
  FROM embeddings e, dims d),
cells AS (
  SELECT a.i AS i, b.i AS j, CAST(sum(a.xi * b.xi) AS BIGINT) AS sxy
  FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.i <= b.i
  GROUP BY 1, 2),
sums AS (SELECT i, CAST(sum(xi) AS BIGINT) AS sx FROM q GROUP BY 1),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM embeddings)
SELECT s.i, s.j,
       (CAST(s.sxy AS DOUBLE) * 1e-12
        - (CAST(a.sx AS DOUBLE) * 1e-6) * (CAST(b.sx AS DOUBLE) * 1e-6)
          / n.n) / n.n AS cov
FROM cells s
JOIN sums a ON s.i = a.i
JOIN sums b ON s.j = b.i
CROSS JOIN n
"""


# --------------------------------------------------------------------------
# scd2_point_in_time — the feature-store / training-data join: each
# purchase event is enriched with the user's state AS OF the purchase
# time (the last non-purchase event type at or before it) — the
# point-in-time-correctness lookup that prevents feature leakage.
#
# Scale shape: NOT a range join against the interval table (per-user
# interval×fact products) — states and facts union into ONE per-user
# event stream and a single window's last_value(IGNORE NULLS) carries
# the state forward: one user-keyed shuffle, state O(1) per row,
# regardless of how many facts or state changes a user has.  Ties at
# equal t resolve by (is-state-first, event_id) on both engines, so a
# same-instant state change is visible to the same-instant purchase.
# Revenue accumulates in DECIMAL(28,12) per the float canon.
# --------------------------------------------------------------------------


def scd2_point_in_time(spark: SparkSession, sf: str) -> DataFrame:
    ev = load(spark, sf, "events").select(
        "user_id", F.col("ts").cast("long").alias("t"), "event_id",
        "event_type", "value")
    states = ev.filter(F.col("event_type") != "purchase").select(
        "user_id", "t", "event_id", F.lit(0).alias("kind"),
        F.col("event_type").alias("state"), F.lit(None).cast("double")
         .alias("value"))
    facts = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "t", "event_id", F.lit(1).alias("kind"),
        F.lit(None).cast("string").alias("state"), "value")
    w = (Window.partitionBy("user_id")
         .orderBy("t", "kind", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    tl = (states.unionByName(facts)
          .withColumn("cur", F.last("state", ignorenulls=True).over(w)))
    return (tl.filter(F.col("kind") == 1)
            .groupBy(F.coalesce(F.col("cur"), F.lit("none"))
                      .alias("state_at_purchase"))
            .agg(F.count("*").alias("n_purchases"),
                 F.round(F.sum(F.col("value").cast("decimal(28,12)"))
                          .cast("double"), 2).alias("revenue")))


SCD2_POINT_IN_TIME_SQL = """
WITH ev AS (
  SELECT user_id,
         CAST(floor(epoch_us(ts)/1000000) AS BIGINT) AS t,
         event_id, event_type, value
  FROM events),
tl AS (
  SELECT user_id, t, event_id,
         CASE WHEN event_type <> 'purchase' THEN 0 ELSE 1 END AS kind,
         CASE WHEN event_type <> 'purchase' THEN event_type END AS state,
         CASE WHEN event_type = 'purchase' THEN value END AS value
  FROM ev),
c AS (
  SELECT *, last_value(state IGNORE NULLS) OVER (
              PARTITION BY user_id ORDER BY t, kind, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cur
  FROM tl)
SELECT coalesce(cur, 'none') AS state_at_purchase,
       count(*) AS n_purchases,
       CAST(round(CAST(sum(CAST(value AS DECIMAL(28,12))) AS DOUBLE), 2)
            AS DOUBLE) AS revenue
FROM c WHERE kind = 1 GROUP BY 1
"""


QUERIES = {
    "scd2_history": scd2_history,
    "phrase_search": phrase_search,
    "emb_covariance": emb_covariance,
    "scd2_point_in_time": scd2_point_in_time,
}

ORACLES = {
    "scd2_history": SCD2_HISTORY_SQL,
    "phrase_search": PHRASE_SEARCH_SQL,
    "emb_covariance": EMB_COVARIANCE_SQL,
    "scd2_point_in_time": SCD2_POINT_IN_TIME_SQL,
}
