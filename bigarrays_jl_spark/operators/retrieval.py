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

Also: positional phrase search, RRF hybrid fusion, MMR re-ranking and
the entity-resolution golden records.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigarrays_jl_spark.checkpointing import materialize
from bigarrays_jl_spark.functions import dot, norm2, tokens as _toks
from bigarrays_jl_spark.operators.ordering import distributed_prefix_sum
from bigarrays_jl_spark.operators.similarity import _DOT_SQL, _NORM2_SQL
from bigarrays_jl_spark.sources.tables import load

# fixed keyword query (terms present in the synthetic corpus vocab)
BM25_QUERY = ("spark", "vector", "query")
_QUERY_SQL = ", ".join(f"'{t}'" for t in BM25_QUERY)
BM25_K1 = 1.2
BM25_B = 0.75


def text_bm25(spark: SparkSession, sf: str) -> DataFrame:
    # without it `text_bm25` runs 3 parquet scans, not 1
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


# phrase_search: a positional inverted index (doc_id, pos, token) and
# a phrase query over it — the top corpus bigram is matched by
# position-adjacency join, the relational form of "phrase query
# against an inverted index".  The index is the exploded token
# stream; adjacency is an equi-join on (doc_id, pos+1).

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
    # without it `phrase_search` runs 4 parquet scans, not 1
    idx = materialize(
        docs.select("doc_id",
                    F.posexplode(_toks("text"))
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


RRF_K = 60
RRF_QID = 0           # the query document/vector for the hybrid demo
RRF_TOP = 10


# retrieval_rrf_hybrid: reciprocal-rank fusion of the two retrieval
# legs the registry already proves independently — BM25 over the
# document text (text_bm25) and brute-force cosine over the aligned
# embedding column — the standard hybrid-search scorer
# RRF(d) = Σ_legs 1/(60 + rank_leg(d)).  Ranks come from the
# hash-stable 6-digit scores with doc-id tiebreaks, so both engines
# rank identically; the fused score is the SAME two-term double
# expression on both sides (never an order-dependent SUM).

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
                  dot(F.col("qe"), F.col("embedding"))
                  / (F.sqrt(norm2(F.col("qe")))
                     * F.sqrt(norm2(F.col("embedding")))), 6))
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


ER_MAX_ROUNDS = 20


# entity_res_golden: the master-data-management closure over the
# PassJoin fuzzy matcher — fuzzy name pairs (edit distance ≤ 3) become
# edges, min-label propagation forms match clusters, and each cluster
# collapses to a GOLDEN RECORD (canonical = lexicographically smallest
# member, the deterministic survivorship rule).  Composes three proven
# pieces: PassJoin blocking (fuzzy_name_pairs), the dedup_components
# iteration discipline (converge-or-raise), and canonical pick.

# --------------------------------------------------------------------------
# entity_res_golden
# --------------------------------------------------------------------------


def entity_res_golden(spark: SparkSession, sf: str) -> DataFrame:
    pairs = fuzzy_name_pairs(spark, sf).select("name_a", "name_b")
    # without it `entity_res_golden` runs 12 parquet scans, not 2
    edges = materialize(pairs.union(pairs.select(
        F.col("name_b").alias("name_a"), F.col("name_a").alias("name_b")))
        .toDF("src", "dst"), eager=True)
    labels = (edges.select(F.col("src").alias("node")).distinct()
              .withColumn("label", F.col("node")))
    changed = None
    for _ in range(ER_MAX_ROUNDS):
        # the convergence check rides the SAME shuffle as the label
        # fold: each node appears exactly once with own=1 (its previous
        # label), so min(when(own)) recovers "old" without the
        # join-back the first cut paid per round
        prop = (edges.join(labels, edges["src"] == labels["node"])
                .select(F.col("dst").alias("node"), "label",
                        F.lit(0).alias("own")))
        merged = materialize(
            labels.select("node", "label", F.lit(1).alias("own"))
            .union(prop)
            .groupBy("node")
            .agg(F.min("label").alias("label"),
                 F.min(F.when(F.col("own") == 1, F.col("label")))
                  .alias("old")), eager=True)
        changed = merged.filter(F.col("label") != F.col("old")).count()
        labels = merged.select("node", "label")
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"entity resolution did not converge in {ER_MAX_ROUNDS} "
            f"rounds ({changed} labels still changing)")
    return (labels.groupBy(F.col("label").alias("canonical_name"))
            .agg(F.count("*").cast("bigint").alias("n_members"),
                 F.max("node").alias("last_member")))


ENTITY_RES_SQL = f"""
WITH RECURSIVE
prs AS (SELECT name_a, name_b FROM ({FUZZY_NAME_PAIRS_SQL}) q),
edges AS (SELECT name_a AS src, name_b AS dst FROM prs
          UNION SELECT name_b, name_a FROM prs),
reach(node, lab) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node),
comp AS (SELECT node, min(lab) AS canonical_name FROM reach
         GROUP BY node)
SELECT canonical_name, count(*) AS n_members,
       max(node) AS last_member
FROM comp GROUP BY canonical_name
"""


MMR_C = 50           # candidate pool (brute-cosine top-C)
MMR_K = 10           # re-ranked results
MMR_LAMBDA = 0.7     # relevance weight
MMR_MU = 0.3         # diversity weight — an EXPLICIT literal, not 1-λ:
                     # IEEE (1.0-0.7) differs from double(0.3) by 1 ulp,
                     # and both engines must multiply by the same double
MMR_PROBE = 0        # probe = vec_id 0's embedding (excluded from pool)


def _cosine(a, b):
    return F.round(dot(a, b) / (F.sqrt(norm2(a)) * F.sqrt(norm2(b))), 6)


def retrieval_mmr_rerank(spark: SparkSession, sf: str) -> DataFrame:
    e = load(spark, sf, "embeddings").select("vec_id", "embedding")
    q = (e.filter(F.col("vec_id") == MMR_PROBE)
         .select(F.col("embedding").alias("qe")))
    # without it `retrieval_mmr_rerank` runs 4 parquet scans, not 2
    cand = materialize(
        e.filter(F.col("vec_id") != MMR_PROBE)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "embedding",
                _cosine(F.col("qe"), F.col("embedding")).alias("rel"))
        .orderBy(F.col("rel").desc(), "vec_id").limit(MMR_C),
        eager=False)
    a, b = cand.alias("a"), cand.alias("b")
    sims = (a.join(F.broadcast(b), F.col("a.vec_id") < F.col("b.vec_id"))
            .select(F.col("a.vec_id").alias("ia"),
                    F.col("b.vec_id").alias("ib"),
                    _cosine(F.col("a.embedding"),
                            F.col("b.embedding")).alias("s")))

    lam, mu = MMR_LAMBDA, MMR_MU

    def greedy(cand_pdf, sims_pdf):
        import pandas as pd
        if cand_pdf.empty:
            return pd.DataFrame({"rank": [], "vec_id": [], "mmr_score": []})
        rel = dict(zip(cand_pdf["vec_id"], cand_pdf["rel"]))
        sim: dict = {}
        for ia, ib, s in zip(sims_pdf["ia"], sims_pdf["ib"], sims_pdf["s"]):
            sim[(ia, ib)] = s
            sim[(ib, ia)] = s
        remaining = sorted(rel)               # ascending id = tie order
        selected: list = []
        rows = []
        for step in range(1, MMR_K + 1):
            if not remaining:
                break
            best_id, best_score = None, None
            for c in remaining:               # strict > keeps min-id tie
                ms = max((sim.get((c, p), 0.0) for p in selected),
                         default=0.0)
                score = lam * rel[c] - mu * ms
                if best_score is None or score > best_score:
                    best_id, best_score = c, score
            selected.append(best_id)
            remaining.remove(best_id)
            rows.append((step, best_id, best_score))
        return pd.DataFrame(rows, columns=["rank", "vec_id", "mmr_score"])

    g = F.lit(1).alias("g")
    out = (cand.select(g, "vec_id", "rel").groupBy("g")
           .cogroup(sims.select(g, "ia", "ib", "s").groupBy("g"))
           .applyInPandas(
               greedy, schema="rank long, vec_id long, mmr_score double"))
    # mmr_score stays UNROUNDED (the q50 exact-tie canon): it is
    # 0.7·rel − 0.3·maxsim over already-6-rounded inputs, which lands
    # near .5 ties at the 7th decimal BY CONSTRUCTION — rounding it
    # would compare rounding modes, not values.  The raw double is
    # bit-identical on both engines (same expression, same inputs).
    return out.select("rank", "vec_id", "mmr_score")


_COS_SQL = ("round(" + _DOT_SQL.format(a="{a}", b="{b}") + " / (sqrt("
            + _NORM2_SQL.format(a="{a}") + ") * sqrt("
            + _NORM2_SQL.format(a="{b}") + ")), 6)")

RETRIEVAL_MMR_RERANK_SQL = f"""
WITH RECURSIVE
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {MMR_PROBE}),
cand AS (
  SELECT vec_id, embedding,
         {_COS_SQL.format(a='qe', b='embedding')} AS rel
  FROM embeddings, q WHERE vec_id <> {MMR_PROBE}
  ORDER BY rel DESC, vec_id LIMIT {MMR_C}),
sims AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib,
         {_COS_SQL.format(a='a.embedding', b='b.embedding')} AS s
  FROM cand a JOIN cand b ON a.vec_id < b.vec_id),
sel(step, picked, pick_id, pick_score) AS (
  SELECT CAST(1 AS BIGINT), [c.vec_id], c.vec_id,
         {MMR_LAMBDA}e0 * c.rel
  FROM (SELECT vec_id, rel FROM cand
        ORDER BY rel DESC, vec_id LIMIT 1) c
  UNION ALL
  SELECT sel.step + 1, list_append(sel.picked, nxt.vec_id),
         nxt.vec_id, nxt.score
  FROM sel, LATERAL (
    SELECT c.vec_id,
           {MMR_LAMBDA}e0 * c.rel - {MMR_MU}e0
             * coalesce((SELECT max(s.s) FROM sims s
                         WHERE (s.ia = c.vec_id
                                AND list_contains(sel.picked, s.ib))
                            OR (s.ib = c.vec_id
                                AND list_contains(sel.picked, s.ia))),
                        0e0) AS score
    FROM cand c
    WHERE NOT list_contains(sel.picked, c.vec_id)
    ORDER BY score DESC, c.vec_id LIMIT 1) nxt
  WHERE sel.step < {MMR_K})
SELECT step AS rank, pick_id AS vec_id, pick_score AS mmr_score
FROM sel
"""


QUERIES = {
    "text_bm25": text_bm25,
    "fuzzy_name_pairs": fuzzy_name_pairs,
    "phrase_search": phrase_search,
    "retrieval_rrf_hybrid": retrieval_rrf_hybrid,
    "entity_res_golden": entity_res_golden,
    "retrieval_mmr_rerank": retrieval_mmr_rerank,
}

ORACLES = {
    "text_bm25": TEXT_BM25_SQL,
    "fuzzy_name_pairs": FUZZY_NAME_PAIRS_SQL,
    "phrase_search": PHRASE_SEARCH_SQL,
    "retrieval_rrf_hybrid": RRF_SQL,
    "entity_res_golden": ENTITY_RES_SQL,
    "retrieval_mmr_rerank": RETRIEVAL_MMR_RERANK_SQL,
}
