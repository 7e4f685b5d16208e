"""Ranked retrieval + approximate string matching (builder extension,
SURVEY §2C round 8).

``text_bm25`` — Okapi BM25 (Lucene idf variant) over the documents
table for a fixed conjunctive-ish keyword query: the classic inverted-
index scoring function a corpus-search surface needs next to the
TF-IDF statistics already in ``text.text_doc_freq``.

Scale posture: term frequencies for the QUERY terms only (filter pushed
into the post-explode stream, so the shuffle carries |query| terms per
doc, not the vocabulary); document frequency and the corpus constants
(N, avgdl) are one tiny aggregate each, broadcast into the scoring
join.  No vocabulary-sized shuffle, no driver constants.

``fuzzy_name_pairs`` — EXACT approximate-string self-join on part
names with Levenshtein distance ≤ FUZZY_MAX_DIST: the
entity-resolution candidate generator.  Candidate generation is the
PassJoin segment-blocking scheme (Li, Deng, Feng — "PASS-JOIN: a
partition-based method for similarity joins", VLDB 2011, public):
partition every name into D+1 segments; by pigeonhole, two names
within edit distance D share at least one UNEDITED segment, and that
segment appears in the partner at a start position shifted by at most
±D.  So each name emits its D+1 segments as index keys
``(len, seg_idx, substring)`` and, as probe, every substring that
could align with a segment of a partner whose length is within ±D —
an equi-join on keys derived FROM THE NAMES THEMSELVES, so the key
space grows with the name population (the round-8 last-token block
key was a fixed vocabulary: per-block pairs grew quadratically with
the corpus).  Verification (``F.levenshtein``) runs JVM-side on the
deduplicated candidates only; the scheme is a strict superset of the
true pairs, so the result is EXACT — DuckDB's all-pairs
``levenshtein`` over the distinct names is the oracle twin.

Names shorter than D+1 characters cannot be partitioned into D+1
non-empty segments; they fall into a bounded short-name block
(broadcast, length ≤ D is a tiny fixed population in any real name
corpus) joined against the only lengths that could be within distance
D of them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigarrays_jl_spark.checkpointing import materialize
from bigarrays_jl_spark.functions import tokens as _toks
from bigarrays_jl_spark.sources.tables import load

# fixed keyword query (terms present in the synthetic corpus vocab)
BM25_QUERY = ("spark", "vector", "query")
_QUERY_SQL = ", ".join(f"'{t}'" for t in BM25_QUERY)
BM25_K1 = 1.2
BM25_B = 0.75


def text_bm25(spark: SparkSession, sf: str) -> DataFrame:
    # tokenization is the dominant map cost and BOTH consumers need it
    # (corpus stats over dl; term frequencies over the explode) — one
    # lazy materialization instead of re-tokenizing per consumer (the
    # dedup._bands signature-table canon; plan audit showed 3 corpus
    # scans without it)
    d = materialize(
        load(spark, sf, "documents")
        .select("doc_id", _toks().alias("t"))
        .withColumn("dl", F.size("t")), eager=False)
    stats = d.agg(F.count("*").cast("double").alias("n_docs"),
                  F.avg("dl").alias("avgdl"))
    tf = (d.select("doc_id", "dl", F.explode("t").alias("term"))
           .filter(F.col("term").isin(*BM25_QUERY))
           .groupBy("doc_id", "dl", "term")
           .agg(F.count("*").cast("double").alias("tf")))
    df_t = tf.groupBy("term").agg(
        F.countDistinct("doc_id").cast("double").alias("df"))
    scored = (tf.join(F.broadcast(df_t), "term")
                .crossJoin(F.broadcast(stats)))
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5) + 1.0)
    tf_norm = (F.col("tf") * (BM25_K1 + 1.0)
               / (F.col("tf") + BM25_K1
                  * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))))
    # decimal partials for the per-doc term sum: each term's double
    # score is engine-identical, but a raw double sum is addition-order
    # dependent — decimal accumulation keeps the rounded result stable
    # under any partitioning (repo float-parity canon)
    return (scored.withColumn("s", (idf * tf_norm).cast("decimal(28,12)"))
            .groupBy("doc_id")
            .agg(F.count("*").cast("int").alias("n_terms_matched"),
                 F.round(F.sum("s").cast("double"), 6).alias("bm25")))


TEXT_BM25_SQL = rf"""
WITH d AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents),
dl AS (SELECT doc_id, len(t) AS dl FROM d),
stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                 CAST(avg(dl) AS DOUBLE) AS avgdl
          FROM dl),
tf AS (
  SELECT d.doc_id, dl.dl, term, CAST(count(*) AS DOUBLE) AS tf
  FROM (SELECT doc_id, unnest(t) AS term FROM d) d
  JOIN dl ON d.doc_id = dl.doc_id
  WHERE term IN ({_QUERY_SQL})
  GROUP BY d.doc_id, dl.dl, term),
df_t AS (SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
         FROM tf GROUP BY term)
SELECT tf.doc_id, CAST(count(*) AS INT) AS n_terms_matched,
       round(CAST(sum(CAST(
         ln((s.n_docs - df_t.df + 0.5) / (df_t.df + 0.5) + 1.0)
         * (tf.tf * ({BM25_K1} + 1.0)
            / (tf.tf + {BM25_K1}
               * (1.0 - {BM25_B} + {BM25_B} * tf.dl / s.avgdl)))
         AS DECIMAL(28,12))) AS DOUBLE), 6)
         AS bm25
FROM tf JOIN df_t ON tf.term = df_t.term CROSS JOIN stats s
GROUP BY tf.doc_id
"""


# --------------------------------------------------------------------------
# exact fuzzy self-join on part names — PassJoin segment blocking
# --------------------------------------------------------------------------

FUZZY_MAX_DIST = 3
_K = FUZZY_MAX_DIST + 1     # pigeonhole: D edits leave ≥1 of D+1 segments

# segment i (0-based) of the even partition of a length-l string:
#   base = l DIV K, rem = l % K; the LAST rem segments are base+1 long
#   start_i = i*base + max(0, i - (K - rem)); len_i = base + [i >= K-rem]
_START = (f"i * (l DIV {_K}) + greatest(0, i - ({_K} - l % {_K}))")
_SLEN = (f"l DIV {_K} + (CASE WHEN i >= {_K} - (l % {_K}) "
         "THEN 1 ELSE 0 END)")

# index side: a name's own D+1 segments, keyed (l, i, seg)
_SEG_EXPR = f"""
transform(sequence(0, {_K - 1}), i -> named_struct(
  'i', CAST(i AS INT),
  'seg', substring(name, CAST({_START} AS INT) + 1, CAST({_SLEN} AS INT))))
"""

# probe side: for every partner length l within ±D of this name's
# length m, every substring of this name that could align with segment
# i of the length-l partition — start shifted by the net insert/delete
# drift of the ≤D edits before the segment, so |shift| ≤ D.  Positions
# falling outside [0, m) are impossible alignments and are filtered
# BEFORE the substring is taken.
_PROBE_EXPR = f"""
flatten(transform(sequence(greatest({_K}, m - {FUZZY_MAX_DIST}),
                           m + {FUZZY_MAX_DIST}), l ->
  flatten(transform(sequence(0, {_K - 1}), i ->
    transform(
      filter(sequence(-{FUZZY_MAX_DIST}, {FUZZY_MAX_DIST}),
             d -> {_START} + d >= 0 AND {_START} + d + {_SLEN} <= m),
      d -> named_struct(
        'l', CAST(l AS INT), 'i', CAST(i AS INT),
        'sub', substring(name, CAST({_START} + d AS INT) + 1,
                         CAST({_SLEN} AS INT))))))))
"""


def passjoin_candidates(names: DataFrame) -> DataFrame:
    """Distinct candidate pairs ``(name_a < name_b)`` guaranteed to be a
    superset of all pairs within Levenshtein distance FUZZY_MAX_DIST —
    an equi-join on PassJoin segment keys (see module doc).  ``names``
    is a one-column (``name``) deduplicated DataFrame."""
    n = names.withColumn("l", F.length("name"))
    idx = (n.filter(F.col("l") >= _K)
             .select("name", "l", F.explode(F.expr(_SEG_EXPR)).alias("s"))
             .select(F.col("name").alias("name_i"), F.col("l").alias("li"),
                     F.col("s.i").alias("ii"), F.col("s.seg").alias("seg")))
    prb = (n.withColumnRenamed("l", "m")
             .select("name", F.explode(F.expr(_PROBE_EXPR)).alias("p"))
             .select(F.col("name").alias("name_p"),
                     F.col("p.l").alias("pl"), F.col("p.i").alias("pi"),
                     F.col("p.sub").alias("sub")))
    main = (prb.join(idx, (prb.pl == idx.li) & (prb.pi == idx.ii)
                     & (prb.sub == idx.seg))
               .filter(F.col("name_i") != F.col("name_p"))
               .select(F.least("name_i", "name_p").alias("name_a"),
                       F.greatest("name_i", "name_p").alias("name_b")))
    # names too short to partition: broadcast the (bounded) short set
    # against the only lengths reachable within distance D
    shorts = n.filter(F.col("l") < _K).select(F.col("name").alias("name_s"))
    partners = (n.filter(F.col("l") <= _K - 1 + FUZZY_MAX_DIST)
                 .select(F.col("name").alias("name_q")))
    short_pairs = (partners.crossJoin(F.broadcast(shorts))
                   .filter(F.col("name_s") != F.col("name_q"))
                   .select(F.least("name_s", "name_q").alias("name_a"),
                           F.greatest("name_s", "name_q").alias("name_b")))
    return main.unionAll(short_pairs).distinct()


def fuzzy_name_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """ALL distinct part-name pairs within Levenshtein distance
    FUZZY_MAX_DIST — exact result via PassJoin candidates + JVM-side
    ``levenshtein`` verify (never an all-pairs product)."""
    names = (load(spark, sf, "part")
             .select(F.col("p_name").alias("name")).distinct())
    return (passjoin_candidates(names)
            .withColumn("dist", F.levenshtein("name_a", "name_b"))
            .filter(F.col("dist") <= FUZZY_MAX_DIST)
            .select("name_a", "name_b",
                    F.col("dist").cast("int").alias("dist")))


FUZZY_NAME_PAIRS_SQL = f"""
WITH names AS (SELECT DISTINCT p_name AS name FROM part)
SELECT a.name AS name_a, b.name AS name_b,
       CAST(levenshtein(a.name, b.name) AS INT) AS dist
FROM names a JOIN names b ON a.name < b.name
WHERE levenshtein(a.name, b.name) <= {FUZZY_MAX_DIST}
"""


QUERIES = {
    "text_bm25": text_bm25,
    "fuzzy_name_pairs": fuzzy_name_pairs,
}

ORACLES = {
    "text_bm25": TEXT_BM25_SQL,
    "fuzzy_name_pairs": FUZZY_NAME_PAIRS_SQL,
}
