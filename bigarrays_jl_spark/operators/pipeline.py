"""Training-data pipeline operators past cleaning/dedup (SURVEY §2B).

The remaining ops a 100 TB pretraining-data pipeline runs once the
corpus is cleaned and deduplicated (pipeline_clean_corpus, text.py):

- benchmark decontamination (n-gram overlap vs a held-out eval split),
- token-budget sequence packing (chop the ordered token stream into
  fixed-budget bins),
- stable global example-id assignment,
- deterministic hash-stratified sampling,
- weighted mixture upsampling (per-source epoch repetition).

All plans are built-in-expression only (whole-stage codegen, no Python
UDF anywhere).  The two global-order operators ride
operators/ordering.distributed_prefix_sum, so neither ever funnels the
table through a single-partition window — the classic scale-killer the
naive ROW_NUMBER()/running-SUM formulation plans to.

Also: cross-source leakage, the Gopher quality funnel and its
calibration, Bloom-screened decontamination, the end-to-end curation
pipeline and temperature mixing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from bigarrays_jl_spark.checkpointing import materialize
from bigarrays_jl_spark.functions.expressions import shingle_array, tokens
from bigarrays_jl_spark.operators.extensions import (TEXT_GOPHER_RULES_SQL,
                                                     _cls_metrics,
                                                     _cls_score_ctes,
                                                     _gopher_metrics)
from bigarrays_jl_spark.operators.ordering import distributed_prefix_sum
from bigarrays_jl_spark.sources.tables import fan_out, load

# --------------------------------------------------------------------------
# pipeline_decontaminate — flag training docs that share any 8-token
# shingle with the held-out eval split (doc_id % 10 == 0 stands in for
# the benchmark set).  The GPT-3/PaLM-style n-gram decontamination
# check.
#
# Scale shape: the eval split is small by construction, so its distinct
# shingle set broadcasts; train-side per-doc shingle DEDUP happens
# map-side (array_distinct over the shingle array — duplicates only
# exist within one document, so no dropDuplicates shuffle of the
# corpus), and the shingled table materializes once (lazy checkpoint,
# same discipline as dedup.sh_all) so the eval and train branches don't
# re-scan + re-shingle the corpus.  Wide stages: the eval-side distinct
# (eval split only) and the per-doc count — the train corpus itself
# crosses ONE shuffle.  At a 100 TB corpus the eval set is still ~GB —
# if it ever outgrows broadcast, the same plan degrades gracefully to a
# shuffled semi-join on the shingle hash.
# --------------------------------------------------------------------------

DECON_NGRAM = 8


def pipeline_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents").select("doc_id", tokens().alias("t"))
    # without it `pipeline_decontaminate` runs 2 parquet scans, not 1
    arr = materialize(d.select("doc_id", F.array_distinct(
        shingle_array("t", DECON_NGRAM)).alias("ss")), eager=False)
    ev = (arr.filter(F.col("doc_id") % 10 == 0)
             .select(F.explode("ss").alias("s")).distinct())
    tr = (arr.filter(F.col("doc_id") % 10 != 0)
             .select("doc_id", F.explode("ss").alias("s")))
    return (tr.join(F.broadcast(ev), "s")
              .groupBy("doc_id")
              .agg(F.count("*").alias("n_shared_ngrams")))


PIPELINE_DECONTAMINATE_SQL = rf"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents),
sh AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(t) - {DECON_NGRAM - 1}),
                               i -> array_to_string(t[i:i+{DECON_NGRAM - 1}], ' '))) AS s
  FROM toks),
ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 10 = 0),
tr AS (SELECT DISTINCT doc_id, s FROM sh WHERE doc_id % 10 <> 0)
SELECT tr.doc_id, count(*) AS n_shared_ngrams
FROM tr JOIN ev USING (s) GROUP BY tr.doc_id
"""


# --------------------------------------------------------------------------
# pipeline_pack_sequences — chop the doc_id-ordered token stream into
# fixed token-budget bins: each document lands in the bin its START
# offset falls into (documents may straddle a boundary; the trainer's
# reader handles the tail).  Needs the exact global running token count
# — computed as a distributed prefix sum (ordering.py), NOT a
# whole-table running-SUM window.
# --------------------------------------------------------------------------

PACK_BUDGET = 2048


def pack_census(spark: SparkSession, d: DataFrame) -> DataFrame:
    """(doc_id, n_tok) → the packed-sequence census: each doc lands in
    the PACK_BUDGET bin its START offset (exact doc_id-ordered prefix
    sum) falls into — shared by the batch operators AND the streaming
    snapshot (streaming/curate.py) so the census rule cannot drift."""
    cum, _ = distributed_prefix_sum(
        spark, d, F.col("n_tok"), "doc_id", "doc_id", out="cum_tok")
    start = F.col("cum_tok") - F.col("n_tok")
    return (cum.withColumn(
        "bin_id", F.floor(start / F.lit(PACK_BUDGET)).cast("bigint"))
        .groupBy("bin_id")
        .agg(F.count("*").alias("n_docs"),
             F.sum("n_tok").cast("bigint").alias("bin_tokens"),
             F.min("doc_id").alias("first_doc"),
             F.max("doc_id").alias("last_doc")))


def pipeline_pack_sequences(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents") \
        .select("doc_id", F.size(tokens()).alias("n_tok"))
    return pack_census(spark, d)


PIPELINE_PACK_SEQUENCES_SQL = rf"""
WITH t AS (
  SELECT doc_id, len(regexp_split_to_array(trim(text), '\s+')) AS n_tok
  FROM documents),
c AS (
  SELECT doc_id, n_tok,
         sum(n_tok) OVER (ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM t)
SELECT CAST(floor((cum - n_tok) / {PACK_BUDGET}.0) AS BIGINT) AS bin_id,
       count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS bin_tokens,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM c GROUP BY 1
"""


# --------------------------------------------------------------------------
# pipeline_global_ids — stable global example ids in (n_chars, doc_id)
# order: the exact ROW_NUMBER() OVER (ORDER BY ...) answer, computed as
# a constant-weight distributed prefix sum so no Exchange
# SinglePartition appears anywhere in the plan.
# --------------------------------------------------------------------------

def pipeline_global_ids(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents").select("doc_id", "n_chars")
    ranked, _ = distributed_prefix_sum(
        spark, d, F.lit(1), "n_chars", "doc_id", out="global_id")
    return ranked.select("doc_id", "global_id")


PIPELINE_GLOBAL_IDS_SQL = """
SELECT doc_id,
       CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT)
         AS global_id
FROM documents
"""


# --------------------------------------------------------------------------
# sample_stratified — deterministic per-language sampling: keep a doc
# iff its md5-derived hash bucket (0..99) falls under the language's
# rate (downsample the head language, keep most of the tail).  Pure
# map-side filter — no shuffle, no RNG, rerun-stable and pushdown-able.
# --------------------------------------------------------------------------

STRATA_RATES = {"en": 25}  # percent kept; every other language: 75
STRATA_DEFAULT = 75


def _hash_bucket(col) -> F.Column:
    """md5-derived bucket 0..99 — same bytes both engines hash."""
    return (F.conv(F.substring(F.md5(F.col(col).cast("string")), 1, 4), 16, 10)
             .cast("bigint") % 100)


def sample_stratified(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents")
    rate = F.when(F.col("lang") == "en", STRATA_RATES["en"]) \
            .otherwise(STRATA_DEFAULT)
    return (d.filter(_hash_bucket("doc_id") < rate)
             .select("doc_id", "lang", "source"))


SAMPLE_STRATIFIED_SQL = f"""
SELECT doc_id, lang, source FROM documents
WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 100
      < CASE WHEN lang = 'en' THEN {STRATA_RATES["en"]}
             ELSE {STRATA_DEFAULT} END
"""


# --------------------------------------------------------------------------
# sample_weighted_mix — mixture upsampling: replicate each document
# per its source's mixture weight (the "see domain X four epochs per
# run" knob), with a stable per-copy mix_id.  explode(sequence(1, w))
# is map-side row generation — zero shuffles, output size = Σ weights.
# --------------------------------------------------------------------------

MIX_WEIGHTS = {"src0": 4, "src1": 2, "src2": 2, "src3": 2}  # others: 1


def sample_weighted_mix(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents")
    w = (F.when(F.col("source") == "src0", MIX_WEIGHTS["src0"])
          .when(F.col("source").isin("src1", "src2", "src3"), 2)
          .otherwise(1))
    return (d.select("doc_id", "source",
                     F.explode(F.sequence(F.lit(1), w)).alias("copy"))
             .withColumn("mix_id", F.col("doc_id") * 8 + F.col("copy")))


SAMPLE_WEIGHTED_MIX_SQL = """
WITH w AS (
  SELECT doc_id, source,
         CASE WHEN source = 'src0' THEN 4
              WHEN source IN ('src1', 'src2', 'src3') THEN 2
              ELSE 1 END AS wt
  FROM documents)
SELECT doc_id, source, CAST(copy AS INTEGER) AS copy,
       doc_id * 8 + copy AS mix_id
FROM w, unnest(generate_series(1, wt)) AS u(copy)
"""


# --------------------------------------------------------------------------
# sample_temperature_mix — temperature-based source rebalancing (the
# mT5/XLM-R multilingual mix): source s with corpus share p_s is
# resampled toward target share q_s ∝ p_s^α, so small sources are
# upsampled and dominant ones damped.  α = 0.5 deliberately: p^0.5 is
# sqrt, which IEEE 754 requires to be correctly rounded, so Spark and
# DuckDB compute bit-identical weights (pow(p, α) for general α carries
# no such guarantee).  The per-source epoch count is
# clamp(round(SCALE · q_s/p_s), 1, CAP) — an integer derived once per
# source, then realized map-side per doc.
#
# Scale shape: two narrow per-source aggregations (sources ≪ docs)
# broadcast back into one corpus scan; row generation is
# explode(sequence(1, copies)) — zero wide shuffles end to end.
# --------------------------------------------------------------------------

TEMP_SCALE = 2          # epochs for a perfectly balanced source
TEMP_COPY_CAP = 8       # bound on upsampling (also bounds mix_id arith)


def sample_temperature_mix(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents").select("doc_id", "source")
    per = d.groupBy("source").agg(F.count("*").alias("n_s"))
    tot = per.agg(F.sum("n_s").alias("n"))
    shares = (per.crossJoin(F.broadcast(tot))
              .withColumn("p", F.col("n_s") / F.col("n"))
              .withColumn("pa", F.sqrt("p")))
    z = shares.agg(F.sum("pa").alias("z"))
    # round to 9 decimals before the integer round (the repo's oracle
    # float rule): z = Σ√p is an order-sensitive double sum, and this
    # absorbs the ulp-level accumulation differences between engines
    copies = (shares.crossJoin(F.broadcast(z))
              .withColumn("r", (F.col("pa") / F.col("z")) / F.col("p"))
              .select("source",
                      F.greatest(
                          F.lit(1),
                          F.least(F.lit(TEMP_COPY_CAP),
                                  F.round(F.round(
                                      F.lit(TEMP_SCALE) * F.col("r"), 9))
                                   .cast("int"))).alias("copies")))
    return (d.join(F.broadcast(copies), "source")
            .select("doc_id", "source",
                    F.explode(F.sequence(F.lit(1), F.col("copies")))
                     .alias("copy"))
            .withColumn("mix_id",
                        F.col("doc_id") * (TEMP_COPY_CAP + 1) + F.col("copy")))


SAMPLE_TEMPERATURE_MIX_SQL = f"""
WITH per AS (SELECT source, count(*) AS n_s FROM documents GROUP BY source),
tot AS (SELECT CAST(sum(n_s) AS DOUBLE) AS n FROM per),
shares AS (SELECT source, n_s, n_s / n AS p, sqrt(n_s / n) AS pa
           FROM per, tot),
z AS (SELECT sum(pa) AS z FROM shares),
cp AS (SELECT source,
              greatest(1, least({TEMP_COPY_CAP},
                CAST(round(round({TEMP_SCALE} * (pa / z.z) / p, 9))
                     AS INTEGER))) AS copies
       FROM shares, z)
SELECT d.doc_id, d.source, CAST(copy AS INTEGER) AS copy,
       d.doc_id * {TEMP_COPY_CAP + 1} + copy AS mix_id
FROM documents d
JOIN cp ON cp.source = d.source,
unnest(generate_series(1, copies)) AS u(copy)
"""



# --------------------------------------------------------------------------
# pipeline_chunk_documents — sliding context windows: split every
# document into fixed-width character chunks (CHUNK_LEN) advancing by
# CHUNK_STRIDE, keeping CHUNK_LEN - CHUNK_STRIDE of overlap so no
# span is lost at a boundary — the standard pre-tokenization chunking
# step that fits long documents into a model's context window.
# Output carries (start, length, md5) per chunk, not the chunk text,
# so the result stays compact.
#
# Scale shape: the chunk index list is generated per row by a built-in
# sequence + explode — map-side only, zero shuffles, and each output
# row is ~50 bytes regardless of chunk width.  No Python, no window,
# no repartition: the op is embarrassingly parallel and inherits the
# scan's partitioning.
# --------------------------------------------------------------------------

CHUNK_LEN = 200
CHUNK_STRIDE = 150


def pipeline_chunk_documents(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents").select("doc_id", "text")
    n_k = F.floor((F.greatest(F.length("text"), F.lit(1)) - 1) / CHUNK_STRIDE) \
           .cast("int")
    chunks = d.select(
        "doc_id", "text",
        F.explode(F.sequence(F.lit(0), n_k)).alias("k"))
    chunk = F.expr(f"substring(text, k * {CHUNK_STRIDE} + 1, {CHUNK_LEN})")
    return chunks.select(
        "doc_id",
        F.col("k").cast("int").alias("chunk_idx"),
        (F.col("k") * CHUNK_STRIDE + 1).cast("bigint").alias("start_pos"),
        F.length(chunk).cast("bigint").alias("chunk_len"),
        F.md5(chunk).alias("chunk_md5"))


PIPELINE_CHUNK_DOCUMENTS_SQL = f"""
WITH seq AS (
  SELECT doc_id, text,
         unnest(range(0, CAST(floor((greatest(length(text), 1) - 1)
                                    / {CHUNK_STRIDE}) AS INT) + 1)) AS k
  FROM documents)
SELECT doc_id, CAST(k AS INT) AS chunk_idx,
       CAST(k * {CHUNK_STRIDE} + 1 AS BIGINT) AS start_pos,
       CAST(length(substr(text, CAST(k * {CHUNK_STRIDE} + 1 AS INT),
                          {CHUNK_LEN})) AS BIGINT) AS chunk_len,
       md5(substr(text, CAST(k * {CHUNK_STRIDE} + 1 AS INT), {CHUNK_LEN}))
         AS chunk_md5
FROM seq
"""


# ``cross_source_leakage`` — source × source n-gram overlap: for
# every source pair, the count of distinct word 8-grams (the
# decontamination-standard unit — n-gram overlap catches partial
# copies whole-document equality misses) present in BOTH, plus the
# Jaccard of their 8-gram sets.  The contamination matrix train/test
# split audits compute before training.

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
    # without it `cross_source_leakage` runs 9 Spark jobs, not 8
    sp = materialize(
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


# ``quality_filter_funnel`` — staged retention through the Gopher rule
# cascade (word count → mean word length → alphabetic fraction →
# stop-word hits): per stage, how many docs enter, how many survive,
# and the retention fraction.  The go/no-go scorecard every filtering
# pipeline reports before committing a corpus; built on the exact
# ``_gopher_metrics`` canon (operators/extensions.py) so the funnel
# can never disagree with the gate it reports on.

FUNNEL_STAGES = ("word_count", "mean_word_len", "alpha_frac", "stopwords")


def quality_filter_funnel(spark: SparkSession, sf: str) -> DataFrame:
    d = fan_out(spark, load(spark, sf, "documents"))
    g = _gopher_metrics(F.col("text"))
    # cumulative survival flags, in the cascade's fixed order; when()
    # maps NULL metric flags (empty docs) to 0 on both engines
    c1 = g["ok_words"]
    c2 = c1 & g["ok_word_len"]
    c3 = c2 & g["ok_alpha"]
    c4 = g["gopher_pass"]
    s = d.agg(F.count("*").cast("bigint").alias("n"),
              *[F.sum(F.when(c, 1).otherwise(0)).cast("bigint").alias(k)
                for k, c in (("s1", c1), ("s2", c2), ("s3", c3),
                             ("s4", c4))])
    stages = [
        F.struct(F.lit(i + 1).cast("bigint").alias("stage"),
                 F.lit(FUNNEL_STAGES[i]).alias("rule"),
                 F.col(n_in).alias("n_in"), F.col(n_out).alias("n_out"))
        for i, (n_in, n_out) in enumerate(
            (("n", "s1"), ("s1", "s2"), ("s2", "s3"), ("s3", "s4")))]
    return (s.select(F.explode(F.array(*stages)).alias("r"))
            .select("r.stage", "r.rule", "r.n_in", "r.n_out",
                    F.when(F.col("r.n_in") > 0,
                           F.round(F.col("r.n_out").cast("double")
                                   / F.col("r.n_in"), 6))
                    .alias("retained_frac")))


QUALITY_FILTER_FUNNEL_SQL = f"""
WITH g AS ({TEXT_GOPHER_RULES_SQL}),
s AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN ok_words THEN 1 ELSE 0 END) AS BIGINT)
               AS s1,
             CAST(sum(CASE WHEN ok_words AND ok_word_len
                      THEN 1 ELSE 0 END) AS BIGINT) AS s2,
             CAST(sum(CASE WHEN ok_words AND ok_word_len AND ok_alpha
                      THEN 1 ELSE 0 END) AS BIGINT) AS s3,
             CAST(sum(CASE WHEN gopher_pass THEN 1 ELSE 0 END) AS BIGINT)
               AS s4
      FROM g),
f AS (
  SELECT CAST(1 AS BIGINT) AS stage, 'word_count' AS rule,
         n AS n_in, s1 AS n_out FROM s
  UNION ALL SELECT 2, 'mean_word_len', s1, s2 FROM s
  UNION ALL SELECT 3, 'alpha_frac', s2, s3 FROM s
  UNION ALL SELECT 4, 'stopwords', s3, s4 FROM s)
SELECT stage, rule, n_in, n_out,
       CASE WHEN n_in > 0
            THEN round(CAST(n_out AS DOUBLE) / n_in, 6) END
         AS retained_frac
FROM f
"""


# ``quality_calibration`` — the classifier-vs-rules calibration curve:
# documents bucket by their hashed-classifier score (fixed 0.1-wide
# bins over the score's [−1, 1] range) and each bin reports how often
# the rule-based Gopher gate agrees.  THE check a curation team runs
# before trusting a cheap classifier threshold in place of the full
# rule cascade; composes the two existing canons (`_cls_metrics`,
# `_gopher_metrics`) so the curve can never drift from the gates it
# calibrates.  Mean score per bin is exact: the 6-rounded score
# re-quantizes to an integer at 1e-6 (exact by construction), sums as
# integers, and divides once.

def quality_calibration(spark: SparkSession, sf: str) -> DataFrame:
    d = fan_out(spark, load(spark, sf, "documents"))
    cls = _cls_metrics(F.col("text"))
    gop = _gopher_metrics(F.col("text"))
    scored = (d.select(cls["score"].alias("score"),
                       F.coalesce(gop["gopher_pass"], F.lit(False))
                        .alias("gp"))
              .filter(F.col("score").isNotNull()))
    binned = scored.select(
        F.floor(F.col("score") * 10).cast("bigint").alias("score_bin"),
        # 6-rounded score × 1e6 is an exact integer — summable exactly
        F.round(F.col("score") * 1e6).cast("bigint").alias("si"),
        F.col("gp").cast("int").alias("p"))
    return (binned.groupBy("score_bin")
            .agg(F.count("*").cast("bigint").alias("n_docs"),
                 F.sum("p").cast("bigint").alias("n_gopher_pass"),
                 F.sum("si").alias("ssum"))
            .select("score_bin", "n_docs", "n_gopher_pass",
                    F.round(F.col("n_gopher_pass").cast("double")
                            / F.col("n_docs"), 6).alias("pass_rate"),
                    (F.col("ssum").cast("double")
                     / (F.col("n_docs") * 1e6)).alias("mean_score")))


# the Gopher side of the oracle reuses TEXT_GOPHER_RULES_SQL verbatim —
# the same shared-fragment discipline as the classifier CTEs, so a
# canon change can never leave this oracle grading the old rules
QUALITY_CALIBRATION_SQL = f"""
WITH {_cls_score_ctes('documents')},
gm AS (
  SELECT doc_id, gopher_pass AS gp FROM ({TEXT_GOPHER_RULES_SQL}) gq),
s AS (
  SELECT CAST(floor(cls.score * 10) AS BIGINT) AS score_bin,
         CAST(round(cls.score * 1e6) AS BIGINT) AS si,
         CASE WHEN coalesce(gm.gp, false) THEN 1 ELSE 0 END AS p
  FROM cls JOIN gm ON cls.doc_id = gm.doc_id
  WHERE cls.score IS NOT NULL)
SELECT score_bin,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(p) AS BIGINT) AS n_gopher_pass,
       round(CAST(sum(p) AS DOUBLE) / count(*), 6) AS pass_rate,
       CAST(sum(si) AS DOUBLE) / (count(*) * 1e6) AS mean_score
FROM s GROUP BY score_bin
"""


# 8 md5 nibbles → exact int, digit-wise (DuckDB has no conv(); the
# KMV/simhash oracle idiom, estimation.kmv_distinct_users)
def _hex8(expr: str) -> str:
    return " + ".join(
        f"(strpos('0123456789abcdef', substr({expr}, {i + 1}, 1)) - 1) "
        f"* {16 ** (7 - i)}" for i in range(8))


# --------------------------------------------------------------------------
# bloom_decontaminate — Bloom-filter pre-screen for train/eval
# decontamination, audited against the exact join.  The production
# pattern at 100 TB: the eval set's 8-grams fold into an M-bit Bloom
# bitset (demo M = 2^17 bits = 16 KB, sized to the demo corpus's ~23k
# eval grams for a measurable ~5-10% FP rate — production sizes M to
# its eval-gram count the same way; the bitset broadcasts either way),
# training docs are screened MAP-SIDE against it, and only
# bloom-positive grams ever reach the exact verification join — the
# corpus-sized anti-join the screen exists to avoid.  Bloom filters
# have NO false negatives (every truly-shared gram sets all K of its
# bits), so per doc ``n_bloom_pos ≥ n_exact_shared`` structurally and
# the audit's ``n_false_pos`` column is the screen's measured cost.
# Same cross-engine determinism as the CM sketch: bit positions are
# md5-nibble integer hashes, counts are integers, hash-exact oracle.
#
# Scale shape: the bitset is ≤ K×|eval grams| distinct positions
# (bounded by M = 2^17); the screen is one broadcast join over exploded
# train grams; the exact leg joins only for the audit (production runs
# it only on bloom-positive survivors).  Composes the
# pipeline_decontaminate canon (same tokens → 8-gram shingles, same
# doc_id % 10 eval split) so the screen can never drift from the
# exact operator it accelerates.
# --------------------------------------------------------------------------

BLOOM_K = 3
BLOOM_M = 131072           # 2^17 bits = 16 KB bitset


def bloom_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    from bigarrays_jl_spark.functions.expressions import tokens
    d = load(spark, sf, "documents").select("doc_id", tokens().alias("t"))
    # without it `bloom_decontaminate` runs 2 parquet scans, not 1
    arr = materialize(
        d.select("doc_id", F.array_distinct(
            shingle_array("t", DECON_NGRAM)).alias("ss")), eager=False)
    # without it `bloom_decontaminate` runs 12 Spark jobs, not 11
    ev = materialize(
        arr.filter(F.col("doc_id") % 10 == 0)
        .select(F.explode("ss").alias("s")).distinct(), eager=False)
    jarr = F.array(*[F.lit(j) for j in range(BLOOM_K)])
    bits = (ev.select(F.explode(jarr).alias("j"), "s")
            .select("j", bloom_bit_col().alias("bit")).distinct())
    tr = (arr.filter(F.col("doc_id") % 10 != 0)
          .select("doc_id", F.explode("ss").alias("s")))
    n_pos = bloom_screen_counts(tr, bits)
    exact = tr.join(ev, "s", "left_semi")
    n_ex = (exact.groupBy("doc_id")
            .agg(F.count("*").cast("bigint").alias("n_exact_shared")))
    return (n_pos.join(n_ex, "doc_id", "left")
            .select("doc_id", "n_bloom_pos",
                    F.coalesce("n_exact_shared", F.lit(0)).cast("bigint")
                    .alias("n_exact_shared"))
            .withColumn("n_false_pos",
                        (F.col("n_bloom_pos") - F.col("n_exact_shared"))
                        .cast("bigint")))


def bloom_bit_col() -> Column:
    """``bloom_bit`` applied to the in-scope (j, s) columns — the K
    positions are generated by exploding j and hashing per row, so the
    expression is shared by the bitset build and the probe."""
    return (F.conv(F.substring(
        F.md5(F.concat(F.col("j").cast("string"), F.lit(":"),
                       F.col("s"))), 1, 8), 16, 10)
        .cast("bigint") % BLOOM_M)


def bloom_bit_lit(j: int) -> Column:
    """``bloom_bit_col`` with the hash index pinned to a literal —
    byte-identical input string (``str(j) + ':' + s``), so the probe
    side can compute its K positions as K map-side columns instead of
    a K-way row explode."""
    return (F.conv(F.substring(
        F.md5(F.concat(F.lit(f"{j}:"), F.col("s"))), 1, 8), 16, 10)
        .cast("bigint") % BLOOM_M)


def bloom_screen_counts(tr_grams: DataFrame, bits: DataFrame) -> DataFrame:
    """(doc_id, s) train grams screened against a (j, bit) bitset →
    per-doc bloom-positive gram counts ``(doc_id, n_bloom_pos)`` — THE
    screen rule (K-of-K bit hits per gram), shared by the batch audit
    and the streaming bridge (streaming/bloom.py) so the two can never
    silently diverge (r15 review).

    ``tr_grams`` must be (doc_id, s)-distinct (every caller explodes an
    ``array_distinct`` per doc — the canon front-end).  The K-of-K test
    runs as K chained broadcast LEFT SEMI probes on map-side-computed
    bit columns: the old shape exploded each gram K ways and counted
    k_hit through a (doc_id, s) shuffle — a corpus-grams-sized exchange
    for a screen whose whole point is to be map-side (guide §2.4).  A
    gram survives iff all K of its (j, bit_j) probes hit, exactly the
    k_hit == K rule; the chain is one WholeStageCodegen span with zero
    exchanges before the final per-doc fold."""
    surv = _bloom_survivors(tr_grams, bits)
    return (surv.groupBy("doc_id")
            .agg(F.count("*").cast("bigint").alias("n_bloom_pos")))


def _bloom_survivors(tr_grams: DataFrame, bits: DataFrame) -> DataFrame:
    """The K chained broadcast semi-probes shared by the count screen
    above and _bloom_positive_grams' gram-emitting screen."""
    # without it `bloom_decontaminate` runs 13 Spark jobs, not 11
    bset = materialize(bits.select("j", "bit").distinct(), eager=False)
    surv = tr_grams.select("doc_id", "s")
    for j in range(BLOOM_K):
        bj = bset.filter(F.col("j") == j).select("bit")
        surv = surv.join(F.broadcast(bj),
                         bloom_bit_lit(j) == F.col("bit"), "left_semi")
    return surv


BLOOM_DECONTAMINATE_SQL = rf"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents),
sh AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(t) - 7),
                               i -> array_to_string(t[i:i+7], ' '))) AS s
  FROM toks),
ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 10 = 0),
bits AS (
  SELECT DISTINCT j,
         CAST({_hex8("md5(CAST(j AS VARCHAR) || ':' || s)")} AS BIGINT)
           % {BLOOM_M} AS bit
  FROM ev, UNNEST(range(0, {BLOOM_K})) u(j)),
tr AS (SELECT DISTINCT doc_id, s FROM sh WHERE doc_id % 10 <> 0),
probe AS (
  SELECT doc_id, s, j,
         CAST({_hex8("md5(CAST(j AS VARCHAR) || ':' || s)")} AS BIGINT)
           % {BLOOM_M} AS bit
  FROM tr, UNNEST(range(0, {BLOOM_K})) u(j)),
pos AS (
  SELECT doc_id, s FROM probe JOIN bits USING (j, bit)
  GROUP BY doc_id, s HAVING count(*) = {BLOOM_K}),
n_pos AS (
  SELECT doc_id, count(*) AS n_bloom_pos FROM pos GROUP BY doc_id),
n_ex AS (
  SELECT doc_id, count(*) AS n_exact_shared
  FROM tr SEMI JOIN ev USING (s) GROUP BY doc_id)
SELECT p.doc_id,
       CAST(p.n_bloom_pos AS BIGINT) AS n_bloom_pos,
       CAST(coalesce(e.n_exact_shared, 0) AS BIGINT) AS n_exact_shared,
       CAST(p.n_bloom_pos - coalesce(e.n_exact_shared, 0) AS BIGINT)
         AS n_false_pos
FROM n_pos p LEFT JOIN n_ex e USING (doc_id)
"""


def _bloom_positive_grams(tr_grams: DataFrame,
                          bits: DataFrame) -> DataFrame:
    """(doc_id, s) train grams whose K-of-K Bloom bits all hit — the
    bloom_decontaminate screen rule (bloom_screen_counts) emitting the
    surviving GRAMS instead of per-doc counts, so the exact verify join
    can run on bloom-positives only.  Same K chained broadcast
    semi-probe shape as bloom_decontaminate's — map-side, no
    (doc_id, s) exchange."""
    return _bloom_survivors(tr_grams, bits)


def _curated_survivors(spark: SparkSession, sf: str) -> DataFrame:
    """Stages 1-3 (gate -> dedup -> decontaminate) as one lazy plan —
    split out so the plan-pin test can inspect the join shapes that
    the packer's eager prefix-sum checkpoint would otherwise hide."""
    docs = load(spark, sf, "documents").select("doc_id", "text")
    # stage 1: Gopher quality gate over the TRAINING split (the eval
    # split is the external benchmark set, never curated).
    g = _gopher_metrics(F.col("text"))
    # without it `pipeline_e2e_curate` runs 3 parquet scans, not 2
    q = materialize(
        docs.filter((F.col("doc_id") % 10 != 0) & g["gopher_pass"]),
        eager=False)
    # stage 2: exact dedup — min-doc_id representative per text digest
    keep = (q.groupBy(F.md5("text").alias("fp"))
            .agg(F.min("doc_id").alias("doc_id")))
    kept = q.join(keep.select("doc_id"), "doc_id", "left_semi")
    # stage 3: decontamination — eval 8-gram set -> Bloom bitset ->
    # map-side screen -> exact semi-join on bloom-positives only
    # without it `pipeline_e2e_curate` runs 3 parquet scans, not 2
    ev = materialize(
        docs.filter(F.col("doc_id") % 10 == 0).select(tokens().alias("t"))
        .select(F.explode(F.array_distinct(
            shingle_array("t", DECON_NGRAM))).alias("s"))
        .distinct(), eager=False)
    jarr = F.array(*[F.lit(j) for j in range(BLOOM_K)])
    bits = (ev.select(F.explode(jarr).alias("j"), "s")
            .select("j", bloom_bit_col().alias("bit")).distinct())
    kg = (kept.select("doc_id", tokens().alias("t"))
          .select("doc_id", F.explode(F.array_distinct(
              shingle_array("t", DECON_NGRAM))).alias("s")))
    contaminated = (_bloom_positive_grams(kg, bits)
                    .join(ev, "s", "left_semi")
                    .select("doc_id").distinct())
    return kept.join(contaminated, "doc_id", "left_anti")


def n_tok_col():
    """The packer's token-count canon (pipeline_pack_sequences')."""
    return F.size(F.split(F.trim("text"), r"\s+"))


def pipeline_e2e_curate(spark: SparkSession, sf: str) -> DataFrame:
    surv = _curated_survivors(spark, sf)
    # stage 4: pack the survivors' token stream into PACK_BUDGET bins
    return pack_census(spark,
                       surv.select("doc_id", n_tok_col().alias("n_tok")))


# The oracle composes the SAME stage canons as plain CTEs; the Bloom
# pre-screen is deliberately absent (bloom-then-exact == exact — no
# false negatives), so the production plan is graded against the
# textbook semi-join definition.
PIPELINE_E2E_CURATE_SQL = rf"""
WITH g AS ({TEXT_GOPHER_RULES_SQL}),
q AS (
  SELECT d.doc_id, d.text
  FROM documents d JOIN g ON g.doc_id = d.doc_id
  WHERE d.doc_id % 10 <> 0 AND g.gopher_pass),
keep AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY md5(text)),
kept AS (SELECT q.doc_id, q.text FROM q SEMI JOIN keep USING (doc_id)),
etoks AS (
  SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents WHERE doc_id % 10 = 0),
ev AS (
  SELECT DISTINCT
         unnest(list_transform(generate_series(1, len(t) - {DECON_NGRAM - 1}),
                i -> array_to_string(t[i:i+{DECON_NGRAM - 1}], ' '))) AS s
  FROM etoks),
ktoks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM kept),
kg AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(t) - {DECON_NGRAM - 1}),
                i -> array_to_string(t[i:i+{DECON_NGRAM - 1}], ' '))) AS s
  FROM ktoks),
contaminated AS (SELECT DISTINCT doc_id FROM kg SEMI JOIN ev USING (s)),
surv AS (SELECT k.doc_id, k.text FROM kept k
         ANTI JOIN contaminated c ON c.doc_id = k.doc_id),
t2 AS (
  SELECT doc_id, len(regexp_split_to_array(trim(text), '\s+')) AS n_tok
  FROM surv),
c AS (
  SELECT doc_id, n_tok,
         sum(n_tok) OVER (ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM t2)
SELECT CAST(floor((cum - n_tok) / {PACK_BUDGET}.0) AS BIGINT) AS bin_id,
       count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS bin_tokens,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM c GROUP BY 1
"""


# --------------------------------------------------------------------------
# pipeline_temperature_mix — temperature-scaled language mixing (the
# XLM-R/mT5 multilingual sampling knob): per-language share p_l is
# re-weighted to p_l^(1/T) and renormalized, flattening head-language
# dominance, then an integer BUDGET is allocated by largest-remainder
# (floor every scaled weight, hand the leftover +1s to the largest
# fractional parts, ties by language code) so allocations sum EXACTLY
# to the budget.  The registry row pins T=2: p^(1/2) = sqrt(p), and
# IEEE sqrt/division are correctly rounded on both engines, so the
# integer allocation is bit-deterministic cross-engine (arbitrary T is
# a library parameter; pow's last-ulp is libm-dependent, which is why
# the committed oracle row uses the sqrt special case).  Weight sums
# ride exact decimals (the repo's decimal-sum canon) so double
# accumulation order cannot leak in.
#
# Scale shape: one groupBy(lang) over the corpus (map-side combined),
# then everything downstream operates on the LANGUAGE DOMAIN (a
# value-domain-bounded table): the two broadcast single-row joins and
# the largest-remainder rank theta-join are lang-domain × lang-domain
# — fixed cost at any corpus size, no SinglePartition window.
# --------------------------------------------------------------------------

MIX_T = 2.0
MIX_BUDGET = 100_000


def pipeline_temperature_mix(spark: SparkSession, sf: str,
                             temperature: float = MIX_T,
                             budget: int = MIX_BUDGET) -> DataFrame:
    from bigarrays_jl_spark.sources.tables import load
    if temperature <= 0:
        raise ValueError("temperature must be positive")
    c = (load(spark, sf, "documents").groupBy("lang")
         .agg(F.count("*").cast("bigint").alias("n_docs")))
    tot = c.agg(F.sum("n_docs").cast("double").alias("N"))
    inv = 1.0 / temperature
    raw = (F.col("n_docs") / F.col("N")) if inv == 1.0 else (
        F.sqrt(F.col("n_docs") / F.col("N")) if inv == 0.5 else
        F.pow(F.col("n_docs") / F.col("N"), F.lit(inv)))
    w = (c.crossJoin(F.broadcast(tot))
         .withColumn("w9", F.round(raw, 9).cast("decimal(18,9)")))
    z = w.agg(F.sum("w9").alias("Z"))
    d = (w.crossJoin(F.broadcast(z))
         .withColumn("wn", F.round(F.col("w9").cast("double")
                                   / F.col("Z").cast("double"), 9))
         .withColumn("x", F.lit(budget) * F.col("wn"))
         .withColumn("fl", F.floor("x").cast("bigint"))
         .withColumn("frac", F.round(F.col("x") - F.floor("x"), 9)))
    rem = d.agg((F.lit(budget) - F.sum("fl")).cast("bigint").alias("rem"))
    peers = d.select(F.col("lang").alias("l2"), F.col("frac").alias("f2"))
    rnk = (d.join(F.broadcast(peers),
                  (F.col("f2") > F.col("frac"))
                  | ((F.col("f2") == F.col("frac"))
                     & (F.col("l2") < F.col("lang"))), "left")
           .groupBy("lang").agg(F.count("l2").alias("rnk")))
    return (d.join(rnk, "lang").crossJoin(F.broadcast(rem))
            .select("lang", "n_docs",
                    F.round(F.col("n_docs") / F.col("N"), 6).alias("share"),
                    F.round("wn", 6).alias("weight"),
                    (F.col("fl") + F.when(F.col("rnk") < F.col("rem"), 1)
                     .otherwise(0)).cast("bigint").alias("alloc")))


PIPELINE_TEMPERATURE_MIX_SQL = f"""
WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
           FROM documents GROUP BY lang),
t AS (SELECT CAST(sum(n_docs) AS DOUBLE) AS N FROM c),
w AS (SELECT lang, n_docs,
             CAST(round(sqrt(n_docs / N), 9) AS DECIMAL(18,9)) AS w9
      FROM c, t),
z AS (SELECT sum(w9) AS Z FROM w),
d AS (SELECT lang, n_docs, round(CAST(w9 AS DOUBLE) / CAST(Z AS DOUBLE),
             9) AS wn FROM w, z),
f AS (SELECT lang, n_docs, wn,
             CAST(floor({MIX_BUDGET} * wn) AS BIGINT) AS fl,
             round({MIX_BUDGET} * wn - floor({MIX_BUDGET} * wn), 9)
               AS frac
      FROM d),
r AS (SELECT CAST({MIX_BUDGET} - sum(fl) AS BIGINT) AS rem FROM f),
rk AS (SELECT lang, (SELECT count(*) FROM f f2
                     WHERE f2.frac > f.frac
                        OR (f2.frac = f.frac AND f2.lang < f.lang))
               AS rnk
       FROM f)
SELECT f.lang, f.n_docs, round(f.n_docs / t.N, 6) AS share,
       round(f.wn, 6) AS weight,
       CAST(f.fl + CASE WHEN rk.rnk < r.rem THEN 1 ELSE 0 END AS BIGINT)
         AS alloc
FROM f JOIN rk ON rk.lang = f.lang, r, t
"""


QUERIES = {
    "pipeline_decontaminate": pipeline_decontaminate,
    "pipeline_pack_sequences": pipeline_pack_sequences,
    "pipeline_global_ids": pipeline_global_ids,
    "pipeline_chunk_documents": pipeline_chunk_documents,
    "sample_stratified": sample_stratified,
    "sample_weighted_mix": sample_weighted_mix,
    "sample_temperature_mix": sample_temperature_mix,
    "cross_source_leakage": cross_source_leakage,
    "quality_filter_funnel": quality_filter_funnel,
    "quality_calibration": quality_calibration,
    "bloom_decontaminate": bloom_decontaminate,
    "pipeline_e2e_curate": pipeline_e2e_curate,
    "pipeline_temperature_mix": pipeline_temperature_mix,
}

ORACLES = {
    "pipeline_decontaminate": PIPELINE_DECONTAMINATE_SQL,
    "pipeline_pack_sequences": PIPELINE_PACK_SEQUENCES_SQL,
    "pipeline_global_ids": PIPELINE_GLOBAL_IDS_SQL,
    "pipeline_chunk_documents": PIPELINE_CHUNK_DOCUMENTS_SQL,
    "sample_stratified": SAMPLE_STRATIFIED_SQL,
    "sample_weighted_mix": SAMPLE_WEIGHTED_MIX_SQL,
    "sample_temperature_mix": SAMPLE_TEMPERATURE_MIX_SQL,
    "cross_source_leakage": CROSS_SOURCE_LEAKAGE_SQL,
    "quality_filter_funnel": QUALITY_FILTER_FUNNEL_SQL,
    "quality_calibration": QUALITY_CALIBRATION_SQL,
    "bloom_decontaminate": BLOOM_DECONTAMINATE_SQL,
    "pipeline_e2e_curate": PIPELINE_E2E_CURATE_SQL,
    "pipeline_temperature_mix": PIPELINE_TEMPERATURE_MIX_SQL,
}
