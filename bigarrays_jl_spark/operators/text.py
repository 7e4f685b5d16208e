"""Text-analysis operators over the documents table (SURVEY §2B).

Language-ID heuristics, quality scoring, token counting and document
fingerprinting — all with pure built-in `pyspark.sql.functions`
expressions (JVM-side, whole-stage-codegen'd; no Python UDF in any hot
path) and a DuckDB oracle per query.

Tokenization canon (shared with dedup.py): split trimmed lowercase text
on ``\\s+``.

Also: corpus divergence, the Zipf fit, TF-IDF top-k, n-gram novelty
and boilerplate prefixes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from bigarrays_jl_spark.checkpointing import materialize
from bigarrays_jl_spark.functions import shingle_array, tokens as _toks
from bigarrays_jl_spark.operators.ordering import distributed_prefix_sum
from bigarrays_jl_spark.sources.tables import load

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")
_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)


# --------------------------------------------------------------------------
# per-language corpus stats
# --------------------------------------------------------------------------

def text_stats(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents")
    n_tok = F.size(_toks())
    return (d.groupBy("lang")
             .agg(F.count("*").alias("n_docs"),
                  F.round(F.avg("n_chars"), 2).alias("avg_chars"),
                  F.round(F.avg(n_tok), 2).alias("avg_tokens"),
                  F.sum(n_tok).cast("bigint").alias("total_tokens")))


TEXT_STATS_SQL = r"""
SELECT lang, count(*) AS n_docs,
       round(CAST(avg(n_chars) AS DOUBLE), 2) AS avg_chars,
       round(CAST(avg(len(regexp_split_to_array(trim(text), '\s+'))) AS DOUBLE), 2)
         AS avg_tokens,
       CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT)
         AS total_tokens
FROM documents GROUP BY lang
"""


# --------------------------------------------------------------------------
# per-document quality scoring: token count, stopword ratio, mean token
# length — the classic C4/RefinedWeb-style filters
# --------------------------------------------------------------------------

def text_quality(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents")
    t = _toks()
    n_tok = F.size(t)
    n_stop = F.size(F.filter(t, lambda x: x.isin(*STOPWORDS)))
    tok_chars = F.aggregate(F.transform(t, F.length),
                            F.lit(0), lambda acc, x: acc + x)
    return d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.round(n_stop.cast("double") / n_tok, 4).alias("stopword_ratio"),
        F.round(tok_chars.cast("double") / n_tok, 4).alias("avg_token_len"),
        (n_tok >= 10).alias("passes_min_len"),
    )


TEXT_QUALITY_SQL = rf"""
WITH q AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents)
SELECT doc_id, CAST(len(t) AS INT) AS n_tokens,
       round(CAST(len(list_filter(t, x -> x IN ({_STOP_SQL}))) AS DOUBLE) / len(t), 4)
         AS stopword_ratio,
       round(CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) / len(t), 4)
         AS avg_token_len,
       len(t) >= 10 AS passes_min_len
FROM q
"""


# --------------------------------------------------------------------------
# language-ID heuristic: marker-token voting (declared heuristic — the
# point is the operator shape; the labeled `lang` column rides along so
# accuracy is inspectable)
# --------------------------------------------------------------------------

def text_langid(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents")
    t = _toks()
    n_en = F.size(F.filter(t, lambda x: x.isin("the", "a", "of")))
    guess = (F.when(n_en >= 3, "en").otherwise("other"))
    return d.select("doc_id", "lang", n_en.alias("n_en_markers"),
                    guess.alias("lang_guess"),
                    (guess == F.col("lang")).alias("agree"))


TEXT_LANGID_SQL = r"""
WITH q AS (
  SELECT doc_id, lang,
         len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                         x -> x IN ('the', 'a', 'of'))) AS n_en
  FROM documents)
SELECT doc_id, lang, CAST(n_en AS INT) AS n_en_markers,
       CASE WHEN n_en >= 3 THEN 'en' ELSE 'other' END AS lang_guess,
       (CASE WHEN n_en >= 3 THEN 'en' ELSE 'other' END) = lang AS agree
FROM q
"""


# --------------------------------------------------------------------------
# document fingerprinting: full-text hash + min-hash over character
# 8-grams (winnowing-style rolling fingerprint)
# --------------------------------------------------------------------------

def text_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    from bigarrays_jl_spark.functions import norm_text
    d = load(spark, sf, "documents")
    return (d.withColumn("norm", norm_text())
             .filter(F.length("norm") >= 8)
             .select("doc_id",
                     F.md5("norm").alias("fp_full"),
                     F.expr("array_min(transform(transform(sequence(1, length(norm) - 7), "
                            "i -> substring(norm, i, 8)), g -> md5(g)))").alias("fp_min"))
             )


TEXT_FINGERPRINT_SQL = """
WITH n AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS norm
  FROM documents)
SELECT doc_id, md5(norm) AS fp_full,
       (SELECT min(md5(substr(norm, CAST(i AS INT), 8)))
        FROM UNNEST(range(1, length(norm) - 6)) u(i)) AS fp_min
FROM n WHERE length(norm) >= 8
"""


# --------------------------------------------------------------------------
# token counting per source (whitespace tokens + a BPE-ish subword
# estimate: ceil(chars/4) — the standard "~4 chars per token" heuristic)
# --------------------------------------------------------------------------

def text_token_count(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents")
    n_tok = F.size(_toks())
    bpeish = F.ceil(F.col("n_chars") / 4)
    return (d.groupBy("source")
             .agg(F.count("*").alias("n_docs"),
                  F.sum(n_tok).cast("bigint").alias("ws_tokens"),
                  F.sum(bpeish).cast("bigint").alias("bpe_est_tokens")))


TEXT_TOKEN_COUNT_SQL = r"""
SELECT source, count(*) AS n_docs,
       CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS ws_tokens,
       CAST(sum(CAST(ceil(n_chars / 4.0) AS BIGINT)) AS BIGINT) AS bpe_est_tokens
FROM documents GROUP BY source
"""


# --------------------------------------------------------------------------
# pipeline_clean_corpus — the full LLM training-data prep pipeline as ONE
# declarative plan: quality gate → language gate → exact-dup removal
# (normalized fingerprint, keep lowest doc_id) → per-source token budget.
#
# Scale shape: a single corpus scan computes every per-doc feature
# map-side (built-in expressions, no Python); the only wide shuffle is
# the fingerprint aggregation (hash-partitioned, map-side partial), then
# a tiny per-source rollup.  Nothing widens: each stage only narrows the
# row set, so the expensive dedup shuffle sees post-gate survivors only.
#
# The corpus is augmented with an exact copy of every 7th doc (id + 2M,
# same source) so the dedup stage is non-vacuous — same convention as
# dedup.py's near-dup mutants, mirrored in the oracle.
# --------------------------------------------------------------------------

def pipeline_clean_corpus(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents").select("doc_id", "source", "text")
    self_row = F.struct("doc_id", "source", "text")
    copy_row = F.struct((F.col("doc_id") + 2000000).alias("doc_id"),
                        "source", "text")
    aug = (d.select(F.explode(F.when(F.col("doc_id") % 7 == 0,
                                     F.array(self_row, copy_row))
                               .otherwise(F.array(self_row))).alias("r"))
            .select("r.doc_id", "r.source", "r.text"))
    t = _toks()
    n_tok = F.size(t)
    n_stop = F.size(F.filter(t, lambda x: x.isin(*STOPWORDS)))
    n_en = F.size(F.filter(t, lambda x: x.isin("the", "a", "of")))
    from bigarrays_jl_spark.functions import fingerprint
    feats = aug.select("doc_id", "source",
                       F.length("text").alias("n_chars"),
                       n_tok.alias("n_tokens"), n_stop.alias("n_stop"),
                       n_en.alias("n_en"), fingerprint().alias("fp"))
    gated = feats.filter(
        (F.col("n_tokens") >= 10)
        & (F.col("n_stop").cast("double") / F.col("n_tokens") >= 0.05)
        & (F.col("n_en") >= 3))
    kept = (gated.groupBy("fp")
            .agg(F.min("doc_id").alias("keep_id"),
                 F.min_by("source", "doc_id").alias("source"),
                 F.min_by("n_tokens", "doc_id").alias("n_tokens"),
                 F.min_by("n_chars", "doc_id").alias("n_chars")))
    return (kept.groupBy("source")
            .agg(F.count("*").alias("n_docs_kept"),
                 F.sum("n_tokens").cast("bigint").alias("ws_tokens"),
                 F.sum(F.ceil(F.col("n_chars") / 4)).cast("bigint")
                  .alias("bpe_est_tokens")))


PIPELINE_CLEAN_CORPUS_SQL = rf"""
WITH aug AS (
  SELECT doc_id, source, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, source, text
  FROM documents WHERE doc_id % 7 = 0),
feats AS (
  SELECT doc_id, source, length(text) AS n_chars,
         len(t) AS n_tokens,
         len(list_filter(t, x -> x IN ({_STOP_SQL}))) AS n_stop,
         len(list_filter(t, x -> x IN ('the', 'a', 'of'))) AS n_en,
         md5(trim(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'))) AS fp
  FROM (SELECT *, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM aug)),
gated AS (
  SELECT * FROM feats
  WHERE n_tokens >= 10
    AND CAST(n_stop AS DOUBLE) / n_tokens >= 0.05
    AND n_en >= 3),
kept AS (
  SELECT fp, min(doc_id) AS keep_id,
         min_by(source, doc_id) AS source,
         min_by(n_tokens, doc_id) AS n_tokens,
         min_by(n_chars, doc_id) AS n_chars
  FROM gated GROUP BY fp)
SELECT source, count(*) AS n_docs_kept,
       CAST(sum(n_tokens) AS BIGINT) AS ws_tokens,
       CAST(sum(CAST(ceil(n_chars / 4.0) AS BIGINT)) AS BIGINT) AS bpe_est_tokens
FROM kept GROUP BY source
"""


# --------------------------------------------------------------------------
# text_repetition — Gopher-style within-document repetition: the share
# of the document claimed by its single most frequent token.  High
# ratios flag boilerplate/spam for the quality gate.
#
# Scale shape: groupBy (doc_id, term) does all counting in the map-side
# partial agg (a document's tokens live in one input row, hence one
# partition), so the shuffle carries one compact row per distinct
# (doc, term) — bounded by per-doc vocabulary, not document length;
# then a per-doc max/sum rollup.
# --------------------------------------------------------------------------

def text_repetition(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents")
    toks = d.select("doc_id", F.explode(_toks()).alias("term"))
    per = toks.groupBy("doc_id", "term").agg(F.count("*").alias("c"))
    return (per.groupBy("doc_id")
            .agg(F.sum("c").cast("bigint").alias("n_tok"),
                 F.max("c").alias("top_freq"),
                 F.round(F.max("c") / F.sum("c"), 6).alias("rep_ratio")))


TEXT_REPETITION_SQL = r"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
  FROM documents),
per AS (SELECT doc_id, term, count(*) AS c FROM tok GROUP BY 1, 2)
SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok,
       CAST(max(c) AS BIGINT) AS top_freq,
       round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS rep_ratio
FROM per GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# text_doc_freq — the corpus term table (document frequency, collection
# term frequency, idf): the inverted-index statistics behind TF-IDF
# ranking and stopword discovery.
#
# Scale shape: one explode + one groupBy(term) with map-side partial
# aggregation; the corpus row count rides in as a broadcast 1-row
# cross join so no second scan or driver-side constant is needed.
# Term cardinality (vocabulary), not corpus size, bounds the shuffle.
# --------------------------------------------------------------------------

def text_doc_freq(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents")
    n_docs = d.select(F.count("*").cast("double").alias("n"))
    toks = d.select("doc_id", F.explode(_toks()).alias("term"))
    per_term = (toks.groupBy("term")
                .agg(F.countDistinct("doc_id").alias("doc_freq"),
                     F.count("*").alias("term_freq")))
    return (per_term.crossJoin(F.broadcast(n_docs))
            .select("term", "doc_freq", "term_freq",
                    F.round(F.log(F.col("n") / F.col("doc_freq")), 6)
                     .alias("idf")))


TEXT_DOC_FREQ_SQL = r"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
  FROM documents),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents)
SELECT term, count(DISTINCT doc_id) AS doc_freq, count(*) AS term_freq,
       round(ln(n.n / count(DISTINCT doc_id)), 6) AS idf
FROM tok, n GROUP BY term, n.n
"""


# --------------------------------------------------------------------------
# text_quality_buckets — CCNet-style head/middle/tail corpus split: each
# language's documents are cut into exact per-language terciles of a
# quality score (stopword ratio here standing in for the LM-perplexity
# score CCNet uses; same operator shape).  Downstream pipelines train on
# "head", mine "middle", and drop "tail".
#
# Scale shape: per-language ntile via ordering.grouped_ntile — two-phase
# grouped rank, so the dominant language does NOT funnel through a
# single window task the way a bare ntile() OVER (PARTITION BY lang)
# would.  The oracle runs the equivalent single-node ntile.
# --------------------------------------------------------------------------

def text_quality_buckets(spark: SparkSession, sf: str) -> DataFrame:
    from bigarrays_jl_spark.operators.ordering import grouped_ntile
    d = load(spark, sf, "documents")
    t = _toks()
    # -1.0 sentinel for degenerate docs (NULL/empty text): sorts below
    # every real ratio identically in both engines, where a NULL score
    # would order differently (Spark NULLS FIRST vs DuckDB NULLS LAST)
    score = F.coalesce(F.round(
        F.size(F.filter(t, lambda x: x.isin(*STOPWORDS))).cast("double")
        / F.size(t), 4), F.lit(-1.0))
    scored = d.select("doc_id", "lang", score.alias("score"))
    tiled = grouped_ntile(spark, scored, 3, "lang", "score", "doc_id")
    bucket = (F.when(F.col("tile") == 3, "head")       # highest score
               .when(F.col("tile") == 2, "middle")
               .otherwise("tail"))
    return tiled.select("doc_id", "lang", "score", bucket.alias("bucket"))


TEXT_QUALITY_BUCKETS_SQL = rf"""
WITH q AS (
  SELECT doc_id, lang,
         coalesce(round(CAST(len(list_filter(
                 regexp_split_to_array(trim(lower(text)), '\s+'),
                 x -> x IN ({_STOP_SQL}))) AS DOUBLE)
               / len(regexp_split_to_array(trim(lower(text)), '\s+')), 4),
             -1.0) AS score
  FROM documents)
SELECT doc_id, lang, score,
       CASE ntile(3) OVER (PARTITION BY lang ORDER BY score, doc_id)
         WHEN 3 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
FROM q
"""


# --------------------------------------------------------------------------
# text_unigram_logprob — perplexity-proxy quality score (the CCNet-style
# LM filter with a unigram LM fit on the corpus itself): per-doc mean
# negative log-probability of its tokens under corpus unigram
# frequencies.  Low = common-token fluent text, high = rare-token noise;
# the standard cheap stand-in when no external LM is available.
#
# Float discipline: each token's -ln(tf/N) is rounded to 9 decimals and
# accumulated in DECIMAL(28,9) (the q42 power-sum trick), so the per-doc
# mean is bit-reproducible under any partitioning and any engine's
# summation order; only the final display value re-enters double.
#
# Scale shape: one explode + one groupBy(term) builds the frequency
# table (vocabulary-bounded); the token→frequency join shuffles on the
# term hash; the per-doc rollup is a partial-aggregated groupBy.  No
# windows, no driver loops.
# --------------------------------------------------------------------------

def text_unigram_logprob(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents")
    # without it `text_unigram_logprob` runs 2 parquet scans, not 1
    toks = materialize(
        d.select("doc_id", F.explode(_toks()).alias("term")), eager=False)
    tf = toks.groupBy("term").agg(F.count("*").alias("tf"))
    n_total = tf.agg(F.sum("tf").cast("double").alias("n"))
    nll = (tf.crossJoin(F.broadcast(n_total))
           .select("term", F.round(-F.log(F.col("tf") / F.col("n")), 9)
                   .cast("decimal(28,9)").alias("nll")))
    return (toks.join(nll, "term")
            .groupBy("doc_id")
            .agg(F.count("*").cast("bigint").alias("n_tokens"),
                 F.round((F.sum("nll") / F.count("*")).cast("double"), 4)
                  .alias("avg_nll")))


TEXT_UNIGRAM_LOGPROB_SQL = r"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
  FROM documents),
tf AS (SELECT term, count(*) AS tf FROM tok GROUP BY term),
n AS (SELECT CAST(sum(tf) AS DOUBLE) AS n FROM tf),
nll AS (SELECT term, CAST(round(-ln(tf / n.n), 9) AS DECIMAL(28,9)) AS nll
        FROM tf, n)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       round(CAST(sum(nll) / count(*) AS DOUBLE), 4) AS avg_nll
FROM tok JOIN nll USING (term)
GROUP BY doc_id
"""


# text_corpus_divergence: distribution drift between two corpus
# halves — exact integer count tables full-outer merged, per-term
# IEEE contributions rounded-then-DECIMAL-summed (the unigram-logprob
# canon) so cross-partition order can't move the result.

# --------------------------------------------------------------------------
# text_corpus_divergence — distribution drift between the two doc_id-
# parity halves of the corpus: unigram count tables (exact integers)
# full-outer merged over the union vocabulary, then two divergences:
# Hellinger² = ½ Σ (√p − √q)²  (sqrt is IEEE-correctly-rounded, so
# per-term doubles are bit-identical across engines) and Jensen-
# Shannon in bits (log2 follows the unigram-logprob canon).  Each
# per-term contribution is rounded to 9 decimals and accumulated in
# DECIMAL(28,9) — exact, order-independent — so cross-partition sum
# order cannot move the result (float-parity canon).
#
# Scale shape: groupBy(half, token) is a map-side-combined count over
# the token stream; the merge shuffles ∝ vocabulary, never tokens;
# totals broadcast.
# --------------------------------------------------------------------------

def text_corpus_divergence(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    t = docs.select((F.col("doc_id") % 2).alias("half"),
                    F.explode(_toks("text")).alias("token"))
    cnt = (t.groupBy("token")
           .agg(F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
                 .alias("ca"),
                F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
                 .alias("cb")))
    tots = cnt.agg(F.sum("ca").alias("ta"), F.sum("cb").alias("tb"))
    c = cnt.crossJoin(F.broadcast(tots))
    pa = F.col("ca").cast("double") / F.col("ta")
    pb = F.col("cb").cast("double") / F.col("tb")
    hell = 0.5 * (F.sqrt(pa) - F.sqrt(pb)) * (F.sqrt(pa) - F.sqrt(pb))
    js = (F.when(F.col("ca") > 0,
                 0.5 * pa * F.log2(2.0 * pa / (pa + pb))).otherwise(0.0)
          + F.when(F.col("cb") > 0,
                   0.5 * pb * F.log2(2.0 * pb / (pa + pb))).otherwise(0.0))
    return (c.agg(
        F.sum(F.when((F.col("ca") > 0) & (F.col("cb") > 0), 1)
               .otherwise(0)).cast("bigint").alias("n_shared"),
        F.sum(F.when((F.col("ca") > 0) & (F.col("cb") == 0), 1)
               .otherwise(0)).cast("bigint").alias("n_only_a"),
        F.sum(F.when((F.col("ca") == 0) & (F.col("cb") > 0), 1)
               .otherwise(0)).cast("bigint").alias("n_only_b"),
        F.sum(F.round(hell, 9).cast("decimal(28,9)"))
         .cast("double").alias("hellinger_sq"),
        F.sum(F.round(js, 9).cast("decimal(28,9)"))
         .cast("double").alias("js_bits")))


TEXT_CORPUS_DIVERGENCE_SQL = r"""
WITH t AS (
  SELECT doc_id % 2 AS half,
         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
  FROM documents),
cnt AS (
  SELECT token,
         CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
  FROM t GROUP BY 1),
tots AS (SELECT CAST(sum(ca) AS BIGINT) AS ta,
                CAST(sum(cb) AS BIGINT) AS tb FROM cnt),
c AS (SELECT cnt.*, tots.ta, tots.tb,
             CAST(ca AS DOUBLE) / ta AS pa,
             CAST(cb AS DOUBLE) / tb AS pb
      FROM cnt CROSS JOIN tots)
SELECT CAST(sum(CASE WHEN ca > 0 AND cb > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_shared,
       CAST(sum(CASE WHEN ca > 0 AND cb = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_only_a,
       CAST(sum(CASE WHEN ca = 0 AND cb > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_only_b,
       CAST(sum(CAST(round(
           0.5 * (sqrt(pa) - sqrt(pb)) * (sqrt(pa) - sqrt(pb)), 9)
           AS DECIMAL(28,9))) AS DOUBLE) AS hellinger_sq,
       CAST(sum(CAST(round(
           (CASE WHEN ca > 0
                 THEN 0.5 * pa * log2(2.0 * pa / (pa + pb))
                 ELSE 0.0 END)
         + (CASE WHEN cb > 0
                 THEN 0.5 * pb * log2(2.0 * pb / (pa + pb))
                 ELSE 0.0 END), 9) AS DECIMAL(28,9))) AS DOUBLE) AS js_bits
FROM c
"""


# ``text_zipf_fit`` — Zipf/power-law diagnostic of the corpus token
# distribution: OLS slope of ln(freq) on ln(rank) over the full
# rank-frequency table.  Ranks are exact integers from one count sort;
# the ln terms go through the round-9-decimal canon
# (text_bigram_logprob's rule) so the five OLS moments are exact
# decimals and the slope closes in doubles once.
#
# Scale: Zipf's global frequency rank is a distributed_prefix_sum
# (ordering.py), not a whole-vocabulary ORDER BY window — the
# vocabulary grows ~Heaps-law with the corpus.

def text_zipf_fit(spark: SparkSession, sf: str) -> DataFrame:
    """OLS slope of ln(freq) ~ ln(rank) over the corpus rank-frequency
    table (a Zipfian corpus sits near −1); one row out.

    The global frequency rank is a distributed_prefix_sum (weight 1
    over (−f, tok)), NOT a whole-table row_number window: vocabulary
    grows ~Heaps-law with the corpus — hundreds of millions of types at
    100 TB — and a bare ORDER BY window would funnel all of them
    through one task (Exchange SinglePartition)."""
    toks = (load(spark, sf, "documents")
            .select(F.explode(F.split(F.trim(F.lower(F.col("text"))),
                                      r"\s+")).alias("tok")))
    freq = (toks.groupBy("tok").agg(F.count("*").alias("f"))
            .withColumn("negf", -F.col("f")))
    ranked_df, _total = distributed_prefix_sum(
        spark, freq, F.lit(1), "negf", "tok", out="r")
    d9 = "decimal(28,9)"
    ranked = (ranked_df
              .select(F.round(F.log(F.col("r").cast("double")), 9)
                      .cast(d9).alias("x"),
                      F.round(F.log(F.col("f").cast("double")), 9)
                      .cast(d9).alias("y")))
    m = ranked.agg(F.count("*").alias("n"),
                   F.sum("x").alias("sx"), F.sum("y").alias("sy"),
                   F.sum(F.col("x") * F.col("x")).alias("sxx"),
                   F.sum(F.col("x") * F.col("y")).alias("sxy"))
    n = F.col("n").cast("double")
    slope = ((n * F.col("sxy").cast("double")
              - F.col("sx").cast("double") * F.col("sy").cast("double"))
             / (n * F.col("sxx").cast("double")
                - F.col("sx").cast("double")
                * F.col("sx").cast("double")))
    return m.select(F.col("n").cast("bigint").alias("n_types"),
                    F.round(slope, 6).alias("zipf_slope"))


ZIPF_SQL = """
WITH toks AS (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
  FROM documents),
freq AS (SELECT tok, count(*) AS f FROM toks GROUP BY 1),
ranked AS (
  SELECT CAST(round(ln(CAST(row_number() OVER (ORDER BY f DESC, tok)
                            AS DOUBLE)), 9) AS DECIMAL(28,9)) AS x,
         CAST(round(ln(CAST(f AS DOUBLE)), 9) AS DECIMAL(28,9)) AS y
  FROM freq),
m AS (
  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy
  FROM ranked)
SELECT CAST(n AS BIGINT) AS n_types,
       round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
         AS zipf_slope
FROM m
"""


TFIDF_TOPK = 3


# ``text_tfidf_topk`` — per-document top-3 TF-IDF terms: one
# tokenization fold to (doc, term) TFs, document frequencies from the
# same table, idf = ln(N/df), doc-keyed rank window (bounded by a
# document's own vocabulary — never global).

def text_tfidf_topk(spark: SparkSession, sf: str) -> DataFrame:
    toks = (load(spark, sf, "documents")
            .select("doc_id",
                    F.explode(F.split(F.trim(F.lower(F.col("text"))),
                                      r"\s+")).alias("term")))
    # without it `text_tfidf_topk` runs 3 parquet scans, not 1
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


# ``ngram_novelty`` — per source: the share of (doc, distinct word
# trigram) instances whose trigram FIRST occurs in that doc (global
# first = min doc_id).  The training-data freshness readout: a source
# whose docs are mostly re-shuffles of already-seen n-grams adds
# little to a corpus; the same statistic drives dedup budget and
# mixture decisions in C4/Pile-style pipelines.

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


BOILER_K = 8        # prefix words — production scale (r13 verdict task 2)
BOILER_TOPK = 20


# ``boilerplate_prefixes`` — the C4-style boilerplate detector: the
# top-20 repeated document PREFIXES (first ``BOILER_K`` words, hashed)
# with how many docs and distinct sources carry each.  A real crawl
# dedups headers/footers by exactly this grouping; ``BOILER_K`` is 8
# — the production scale, same as cross_source_leakage's 8-grams.
# (r13 shipped with a demo-collision K=2; the r14 fixture plants
# shared 8-word header templates in the sf1 corpus, and the driver's
# own documents tables collide naturally at 8 — 23 groups at sf0.01,
# 233 at sf0.1 — so the production K is provable at every SF.)
#
# Scale: prefix grouping is one map-side-combined groupBy on a 16-byte
# hash + a TakeOrdered(20) heap — no global sort, no window over
# corpus-growing input.

def boilerplate_prefixes(spark: SparkSession, sf: str) -> DataFrame:
    d = (load(spark, sf, "documents")
         .select("doc_id", "source",
                 F.split(F.col("text"), " ").alias("ws")))
    prefix = F.md5(F.concat_ws(
        " ", *[F.element_at("ws", i + 1) for i in range(BOILER_K)]))
    groups = (d.filter(F.size("ws") >= BOILER_K)
              .select(prefix.alias("ph"), "source")
              .groupBy("ph")
              .agg(F.count("*").alias("n_docs"),
                   F.countDistinct("source").alias("n_sources"))
              .filter(F.col("n_docs") > 1))
    return (groups
            .orderBy(F.col("n_docs").desc(), F.col("ph"))
            .limit(BOILER_TOPK)
            .select("ph", F.col("n_docs").cast("bigint").alias("n_docs"),
                    F.col("n_sources").cast("bigint").alias("n_sources")))


# prefix expression derives from BOILER_K exactly like the Spark side,
# so changing the constant can never desynchronize operator and oracle
_PREFIX_SQL = " || ' ' || ".join(f"ws[{i + 1}]" for i in range(BOILER_K))

BOILERPLATE_SQL = f"""
WITH w AS (
  SELECT source, string_split(text, ' ') AS ws FROM documents),
g AS (
  SELECT md5({_PREFIX_SQL}) AS ph,
         count(*) AS n_docs, count(DISTINCT source) AS n_sources
  FROM w WHERE len(ws) >= {BOILER_K}
  GROUP BY 1 HAVING count(*) > 1)
SELECT ph, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_sources AS BIGINT) AS n_sources
FROM g ORDER BY n_docs DESC, ph LIMIT {BOILER_TOPK}
"""


QUERIES = {
    "text_stats": text_stats,
    "text_quality": text_quality,
    "text_langid": text_langid,
    "pipeline_clean_corpus": pipeline_clean_corpus,
    "text_fingerprint": text_fingerprint,
    "text_token_count": text_token_count,
    "text_doc_freq": text_doc_freq,
    "text_repetition": text_repetition,
    "text_quality_buckets": text_quality_buckets,
    "text_unigram_logprob": text_unigram_logprob,
    "text_corpus_divergence": text_corpus_divergence,
    "text_zipf_fit": text_zipf_fit,
    "text_tfidf_topk": text_tfidf_topk,
    "ngram_novelty": ngram_novelty,
    "boilerplate_prefixes": boilerplate_prefixes,
}

ORACLES = {
    "text_stats": TEXT_STATS_SQL,
    "text_quality": TEXT_QUALITY_SQL,
    "text_langid": TEXT_LANGID_SQL,
    "text_fingerprint": TEXT_FINGERPRINT_SQL,
    "text_token_count": TEXT_TOKEN_COUNT_SQL,
    "text_doc_freq": TEXT_DOC_FREQ_SQL,
    "text_repetition": TEXT_REPETITION_SQL,
    "pipeline_clean_corpus": PIPELINE_CLEAN_CORPUS_SQL,
    "text_quality_buckets": TEXT_QUALITY_BUCKETS_SQL,
    "text_unigram_logprob": TEXT_UNIGRAM_LOGPROB_SQL,
    "text_corpus_divergence": TEXT_CORPUS_DIVERGENCE_SQL,
    "text_zipf_fit": ZIPF_SQL,
    "text_tfidf_topk": TFIDF_SQL,
    "ngram_novelty": NGRAM_NOVELTY_SQL,
    "boilerplate_prefixes": BOILERPLATE_SQL,
}
