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
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigarrays_jl_spark.checkpointing import materialize
from bigarrays_jl_spark.functions.expressions import shingle_array, tokens
from bigarrays_jl_spark.operators.ordering import distributed_prefix_sum
from bigarrays_jl_spark.sources.tables import load

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


def pipeline_pack_sequences(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents") \
        .select("doc_id", F.size(tokens()).alias("n_tok"))
    cum, _ = distributed_prefix_sum(
        spark, d, F.col("n_tok"), "doc_id", "doc_id", out="cum_tok")
    start = F.col("cum_tok") - F.col("n_tok")
    binned = cum.withColumn(
        "bin_id", F.floor(start / F.lit(PACK_BUDGET)).cast("bigint"))
    return (binned.groupBy("bin_id")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_tok").cast("bigint").alias("bin_tokens"),
                 F.min("doc_id").alias("first_doc"),
                 F.max("doc_id").alias("last_doc")))


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


QUERIES = {
    "pipeline_decontaminate": pipeline_decontaminate,
    "pipeline_pack_sequences": pipeline_pack_sequences,
    "pipeline_global_ids": pipeline_global_ids,
    "pipeline_chunk_documents": pipeline_chunk_documents,
    "sample_stratified": sample_stratified,
    "sample_weighted_mix": sample_weighted_mix,
    "sample_temperature_mix": sample_temperature_mix,
}

ORACLES = {
    "pipeline_decontaminate": PIPELINE_DECONTAMINATE_SQL,
    "pipeline_pack_sequences": PIPELINE_PACK_SEQUENCES_SQL,
    "pipeline_global_ids": PIPELINE_GLOBAL_IDS_SQL,
    "pipeline_chunk_documents": PIPELINE_CHUNK_DOCUMENTS_SQL,
    "sample_stratified": SAMPLE_STRATIFIED_SQL,
    "sample_weighted_mix": SAMPLE_WEIGHTED_MIX_SQL,
    "sample_temperature_mix": SAMPLE_TEMPERATURE_MIX_SQL,
}
