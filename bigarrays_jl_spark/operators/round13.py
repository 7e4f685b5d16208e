"""Round-13 batch 1 (builder extension, SURVEY §2C):

- ``lorenz_curve`` — the inequality curve behind q82's Gini scalar:
  cumulative revenue share of the bottom k·10 % of customers (by
  revenue, ascending) for k = 1..10, computed EXACTLY on the
  revenue-cents value-domain histogram.  A decile boundary that cuts
  inside a tied revenue block is resolved by integer interpolation
  (customers inside a block are interchangeable — same revenue), so
  the answer is deterministic with no per-customer tiebreak needed.
  The cumulative pass is ``ordering.bucketed_running`` — no
  single-partition window (the r13 discipline from day one).
- ``ngram_novelty`` — per source: the share of (doc, distinct word
  trigram) instances whose trigram FIRST occurs in that doc (global
  first = min doc_id).  The training-data freshness readout: a source
  whose docs are mostly re-shuffles of already-seen n-grams adds
  little to a corpus; the same statistic drives dedup budget and
  mixture decisions in C4/Pile-style pipelines.
- ``cross_source_leakage`` — source × source n-gram overlap: for
  every source pair, the count of distinct word 8-grams (the
  decontamination-standard unit — n-gram overlap catches partial
  copies whole-document equality misses) present in BOTH, plus the
  Jaccard of their 8-gram sets.  The contamination matrix train/test
  split audits compute before training.
- ``dedup_cluster_hist`` — the duplicate-cluster size distribution
  over an exact-copy-augmented corpus (every 7th doc duplicated, so
  the histogram deterministically has mass above size 1): per
  exact-fingerprint cluster size, how many clusters and how many docs
  a dedup pass would remove.  The one-scan summary every
  dedup run should log (a heavy tail means the corpus needs near-dup
  screening too, not just exact).

Scale: lorenz folds orders to per-customer cents, then to the distinct-
revenue histogram before any ordering work (bucketed_running's only
windows are per-bucket); novelty's first-occurrence map is one
hash-keyed shuffle of (trigram, min doc) — never doc × doc; leakage
joins per-source DISTINCT 8-gram sets on the hash (output bounded at
sources²/2 = 190 rows); the cluster histogram is two map-side-combined
groupBys.  No collect, no cartesian, no single-partition window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from bigarrays_jl_spark.checkpointing import materialize
from bigarrays_jl_spark.functions import fingerprint, shingle_array
from bigarrays_jl_spark.operators.ordering import bucketed_running
from bigarrays_jl_spark.sources.tables import fan_out, load


def lorenz_curve(spark: SparkSession, sf: str) -> DataFrame:
    """Deciles whose rank target k·N DIV 10 is 0 (only possible when
    the corpus has fewer than 10 customers) are omitted — the SQL twin
    shares the rule, and a sub-10-customer Lorenz curve is degenerate
    anyway."""
    rev = (load(spark, sf, "orders")
           .groupBy("o_custkey")
           .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
                 .alias("rev_c")))
    hist = materialize(                  # cum pass + totals reuse
        rev.groupBy("rev_c").agg(F.count("*").alias("nc")), eager=False)
    h = bucketed_running(
        hist, "rev_c",
        [("cum_c", "nc", "sum", True),
         ("cum_r", F.col("nc") * F.col("rev_c"), "sum", True)])
    tot = hist.agg(F.sum("nc").alias("n"),
                   F.sum(F.col("nc") * F.col("rev_c")).alias("t"))
    deciles = spark.range(1, 11).select(F.col("id").alias("k"))
    m = F.expr("k * n DIV 10")
    # the block containing global rank m: before_c < m <= cum_c;
    # partial-block revenue = cum_r − (cum_c − m)·rev_c, all integers
    lorenz = F.col("cum_r") - (F.col("cum_c") - F.col("m")) * F.col("rev_c")
    return (h.crossJoin(F.broadcast(tot))
            .crossJoin(F.broadcast(deciles))
            .withColumn("m", m)
            .filter((F.col("cum_c") - F.col("nc") < F.col("m"))
                    & (F.col("m") <= F.col("cum_c")))
            .select(F.col("k").cast("int").alias("decile"),
                    F.col("m").cast("bigint").alias("n_customers"),
                    lorenz.cast("bigint").alias("lorenz_cents"),
                    (lorenz.cast("double") / F.col("t").cast("double"))
                    .alias("lorenz_share")))


LORENZ_SQL = """
WITH rev AS (
  SELECT o_custkey,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS rev_c
  FROM orders GROUP BY 1),
h AS (SELECT rev_c, count(*) AS nc FROM rev GROUP BY 1),
c AS (
  SELECT rev_c, nc,
         CAST(sum(nc) OVER w AS BIGINT) AS cum_c,
         CAST(sum(nc * rev_c) OVER w AS BIGINT) AS cum_r,
         CAST(sum(nc) OVER () AS BIGINT) AS n,
         CAST(sum(nc * rev_c) OVER () AS BIGINT) AS t
  FROM h WINDOW w AS (ORDER BY rev_c ROWS UNBOUNDED PRECEDING)),
d AS (SELECT range AS k FROM range(1, 11)),
pick AS (
  SELECT k, (k * n) // 10 AS m, rev_c, nc, cum_c, cum_r, t
  FROM d, c
  WHERE cum_c - nc < (k * n) // 10 AND (k * n) // 10 <= cum_c)
SELECT CAST(k AS INT) AS decile,
       CAST(m AS BIGINT) AS n_customers,
       CAST(cum_r - (cum_c - m) * rev_c AS BIGINT) AS lorenz_cents,
       CAST(cum_r - (cum_c - m) * rev_c AS DOUBLE) / CAST(t AS DOUBLE)
         AS lorenz_share
FROM pick
"""


def ngram_novelty(spark: SparkSession, sf: str) -> DataFrame:
    d = (load(spark, sf, "documents")
         .select("doc_id", "source",
                 F.split(F.col("text"), " ").alias("ws")))
    # shingle_array carries the short-document guard (sequence DESCENDS
    # below n tokens) and is the repo's one shingling definition; its
    # empty array for short docs drops in the explode
    tri = F.array_distinct(shingle_array("ws", 3))
    e = d.select("doc_id", "source", F.explode(tri).alias("g"))
    # first_doc via a gram-keyed window min instead of groupBy + join
    # back: the gram table shuffles ONCE and needs no checkpoint (one
    # consumer), where the join form paid the grouped fold plus an SMJ
    # build over the same exchange
    novel = (F.min("doc_id").over(W.partitionBy("g"))
             == F.col("doc_id")).cast("int")
    return (e.withColumn("novel", novel)
            .groupBy("source")
            .agg(F.count("*").cast("bigint").alias("n_grams"),
                 F.sum("novel").cast("bigint").alias("n_novel"))
            .select("source", "n_grams", "n_novel",
                    (F.col("n_novel").cast("double")
                     / F.col("n_grams").cast("double")).alias("novelty")))


NGRAM_NOVELTY_SQL = """
WITH w AS (
  SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
t AS (
  SELECT doc_id, source,
         list_distinct([ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]
                        for i in range(1, len(ws) - 1)]) AS tris
  FROM w WHERE len(ws) >= 3),
e AS (SELECT doc_id, source, unnest(tris) AS g FROM t),
f AS (SELECT g, min(doc_id) AS first_doc FROM e GROUP BY g)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
       CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
            AS DOUBLE) / CAST(count(*) AS DOUBLE) AS novelty
FROM e JOIN f USING (g)
GROUP BY source
"""


LEAK_N = 8          # decontamination-standard n-gram width (8-13)


def doc_shingles(docs: DataFrame) -> DataFrame:
    """DISTINCT (source, word-8-gram hash) pairs of a (source, text)
    DataFrame — the contamination unit train/test audits use (n-gram
    overlap, not whole-document equality, catches partial copies).
    Shared with the streaming twin (streaming/windows.py) so batch and
    incremental leakage can never disagree on what counts as a gram."""
    d = docs.select("source", F.split(F.col("text"), " ").alias("ws"))
    # shingle_array = the repo's one shingling definition (guarded for
    # short docs — empty arrays drop in the explode)
    grams = F.transform(shingle_array("ws", LEAK_N), F.md5)
    return (d.select("source", F.explode(grams).alias("ph"))
            .distinct())


def leakage_matrix(sp: DataFrame) -> DataFrame:
    """Source-pair overlap counts + Jaccard from a DISTINCT
    (source, ph) table (``doc_shingles`` output or the streaming
    twin's durable index)."""
    sizes = sp.groupBy("source").agg(F.count("*").alias("n_paras"))
    a = sp.select(F.col("source").alias("source_a"), "ph")
    b = sp.select(F.col("source").alias("source_b"), "ph")
    shared = (a.join(b, "ph")
              .filter(F.col("source_a") < F.col("source_b"))
              .groupBy("source_a", "source_b")
              .agg(F.count("*").alias("n_shared")))
    sa = sizes.select(F.col("source").alias("source_a"),
                      F.col("n_paras").alias("na"))
    sb = sizes.select(F.col("source").alias("source_b"),
                      F.col("n_paras").alias("nb"))
    return (shared.join(F.broadcast(sa), "source_a")
            .join(F.broadcast(sb), "source_b")
            .select("source_a", "source_b",
                    F.col("n_shared").cast("bigint").alias("n_shared"),
                    (F.col("n_shared").cast("double")
                     / (F.col("na") + F.col("nb") - F.col("n_shared"))
                     .cast("double")).alias("jaccard")))


def cross_source_leakage(spark: SparkSession, sf: str) -> DataFrame:
    # fan_out: the 8-gram md5 shingling is CPU-heavy map work on a
    # single-split scan (q01 treatment); the streaming twin shares
    # doc_shingles unchanged — its micro-batches are already parallel
    sp = materialize(                    # sizes + pair join reuse
        doc_shingles(fan_out(spark, load(spark, sf, "documents")
                             .select("source", "text"))), eager=False)
    return leakage_matrix(sp)


CROSS_SOURCE_LEAKAGE_SQL = """
WITH w AS (
  SELECT source, string_split(text, ' ') AS ws FROM documents),
t AS (
  SELECT source,
         [md5(ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] || ' '
              || ws[i + 3] || ' ' || ws[i + 4] || ' ' || ws[i + 5]
              || ' ' || ws[i + 6] || ' ' || ws[i + 7])
          for i in range(1, len(ws) - 6)] AS gs
  FROM w WHERE len(ws) >= 8),
sp AS (SELECT DISTINCT source, unnest(gs) AS ph FROM t),
sizes AS (SELECT source, count(*) AS n_paras FROM sp GROUP BY 1),
shared AS (
  SELECT a.source AS source_a, b.source AS source_b,
         count(*) AS n_shared
  FROM sp a JOIN sp b ON a.ph = b.ph AND a.source < b.source
  GROUP BY 1, 2)
SELECT source_a, source_b,
       CAST(n_shared AS BIGINT) AS n_shared,
       CAST(n_shared AS DOUBLE)
         / CAST(sa.n_paras + sb.n_paras - n_shared AS DOUBLE) AS jaccard
FROM shared
JOIN sizes sa ON sa.source = source_a
JOIN sizes sb ON sb.source = source_b
"""


def dedup_cluster_hist(spark: SparkSession, sf: str) -> DataFrame:
    # dedup.py's _augmented adds MUTANTS (near-dups) — fingerprint
    # clusters stay singletons at graded SFs, which would make this
    # histogram vacuous.  This operator's fixture instead adds an EXACT
    # copy of every 7th doc (one corpus scan, same explode idiom), so
    # the histogram deterministically carries mass above size 1.
    d = load(spark, sf, "documents").select("doc_id", "text")
    self_row = F.struct(F.col("doc_id").alias("doc_id"),
                        F.col("text").alias("text"))
    copy = F.struct((F.col("doc_id") + 2000000).alias("doc_id"),
                    F.col("text").alias("text"))
    rows = (F.when(F.col("doc_id") % 7 == 0, F.array(self_row, copy))
             .otherwise(F.array(self_row)))
    aug = d.select(F.explode(rows).alias("r")).select("r.doc_id", "r.text")
    clusters = (aug.groupBy(fingerprint().alias("fp"))
                .agg(F.count("*").alias("sz")))
    return (clusters.groupBy(F.col("sz").cast("bigint")
                             .alias("cluster_size"))
            .agg(F.count("*").cast("bigint").alias("n_clusters"),
                 (F.sum("sz") - F.count("*")).cast("bigint")
                  .alias("n_removable")))


DEDUP_CLUSTER_HIST_SQL = """
WITH aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, text
  FROM documents WHERE doc_id % 7 = 0),
c AS (
  SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')))
           AS fp,
         count(*) AS sz
  FROM aug GROUP BY 1)
SELECT CAST(sz AS BIGINT) AS cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(sz) - count(*) AS BIGINT) AS n_removable
FROM c GROUP BY sz
"""


QUERIES = {
    "lorenz_curve": lorenz_curve,
    "ngram_novelty": ngram_novelty,
    "cross_source_leakage": cross_source_leakage,
    "dedup_cluster_hist": dedup_cluster_hist,
}

ORACLES = {
    "lorenz_curve": LORENZ_SQL,
    "ngram_novelty": NGRAM_NOVELTY_SQL,
    "cross_source_leakage": CROSS_SOURCE_LEAKAGE_SQL,
    "dedup_cluster_hist": DEDUP_CLUSTER_HIST_SQL,
}
