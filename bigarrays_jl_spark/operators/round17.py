"""Round-17 additions.

``ann_pq_recall_knee`` — the codebook-size recall KNEE for product
quantization (r16 verdict task 5): the committed nprobe audit
(``ann_ivfpq_recall_audit``) honestly shows the demo-config recall
FLOOR, while the production-config figure (≥0.9, 64-entry codebooks on
structured data) lived only in pytest.  This row makes the rise toward
it an oracle-checked artifact: ONE query sweeps the codebook size
PQ_K ∈ {4, 8, 32} with everything else fixed (same subspaces, same
Lloyd's iterations, same brute-force truth) and reports exact-integer
recall@k per config.  The config column is monotone; recall rising
along it is the measured knee, endpoint-pinned in pytest
(recall@32 > recall@4 — per-step monotonicity is NOT a theorem for
codebook size the way it is for nprobe, so only the endpoints are
asserted).

Scale shape: each leg is the ``ann_pq_topk`` plan (broadcast codebooks
and ADC lookup tables, grouped-Lloyd's fit — one chain per leg, code
scan only at query time); the brute-force truth is computed ONCE and
reused by every leg via left-semi joins.  No cartesian anywhere; the
per-leg cost is the PQ fit, which is why the sweep stops at 32 for the
registry config (production pins 64+ in tests/test_ann_recall.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigarrays_jl_spark.checkpointing import materialize

KNEE_KS = (4, 8, 32)


def ann_pq_recall_knee(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window as W
    from bigarrays_jl_spark.functions import dot as _dot
    from bigarrays_jl_spark.operators.similarity import (N_QUERIES,
                                                         PQ_ITERS, TOP_K,
                                                         _pq_l2, _pq_sub,
                                                         ann_cosine_topk)
    from bigarrays_jl_spark.sources.tables import fan_out, load
    brute = materialize(
        ann_cosine_topk(spark, sf).select("qid", "vec_id"), eager=False)
    # the per-qid fold the first cut ran per leg (groupBy qid + left
    # join against the distinct-qid table + coalesce 0) only existed to
    # COUNT the queries — zero-hit qids contribute nothing to sum_hits.
    # n_queries is leg-invariant, so it is folded once here (tiny, one
    # row) and each leg collapses to a single count over its semi-join:
    # 2 shuffles/leg fewer, value-identical (sum of per-qid hit counts
    # == total hit count; count of coalesced rows == distinct qids).
    nq = materialize(
        brute.select("qid").distinct()
        .agg(F.count("*").cast("bigint").alias("n_queries")), eager=False)

    # ONE subvector table for every leg (it depends only on pq_m, not
    # the swept codebook size) — and since the legs differ ONLY in the
    # swept codebook size, ALL THREE fits run as ONE ``pk``-tagged
    # grouped Lloyd's chain (pk = the leg's codebook size is just
    # another grouping key, exactly as the subspace ``s`` already is):
    # one assignment window, one mean-update reduction pair, one ADC
    # LUT, one rank window and one brute semi-join serve every leg,
    # where the per-leg form paid each of those 3× (§1.2 fewer passes —
    # 9 subvector scans → 3; §2.4 one exchange per step instead of
    # three; one centroid/LUT broadcast build per step instead of
    # three).  Per-leg math is untouched: every expression below is the
    # ann_pq_topk pipeline's, grouped/windowed by (pk, ...) so legs
    # never mix.
    # fan_out before the subvector split + checkpoint (§2.5): same
    # single-split guard as _pq_fit — the three legs' shared assign
    # chain is CPU-heavy map work (44 cells × 3 legs of L2 evals per
    # subvector row) that must not run on one task
    e = fan_out(spark, load(spark, sf, "embeddings")).select(
        "vec_id", "embedding")
    sub = materialize(_pq_sub(e), eager=False)

    # seeded init per leg: vectors 0..pk-1, tagged with their leg key
    cent = None
    for k in KNEE_KS:
        c0 = (sub.filter(F.col("vec_id") < k)
              .select(F.lit(k).cast("int").alias("pk"), "s",
                      F.col("vec_id").alias("cell"),
                      F.col("sv").alias("centroid")))
        cent = c0 if cent is None else cent.unionByName(c0)

    def assign(cent_df: DataFrame) -> DataFrame:
        a = (sub.join(F.broadcast(cent_df), "s")
             .withColumn("d2", _pq_l2(F.col("sv"), F.col("centroid")))
             .withColumn("r", F.row_number().over(
                 W.partitionBy("pk", "vec_id", "s").orderBy("d2", "cell")))
             .filter(F.col("r") == 1))
        return a.select("pk", "vec_id", "s", "sv", "cell")

    for _ in range(PQ_ITERS):
        a = assign(cent)
        expl = a.select("pk", "s", "cell",
                        F.posexplode("sv").alias("pos", "v"))
        dims = (expl.groupBy("pk", "s", "cell", "pos")
                .agg((F.sum(F.col("v").cast("decimal(18,9)")).cast("double")
                      / F.count("*")).alias("m")))
        cent = (dims.groupBy("pk", "s", "cell")
                .agg(F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda st: st["m"]).alias("centroid")))
    codes = assign(cent).select("pk", "vec_id", "s", "cell")

    q = (sub.filter(F.col("vec_id") < N_QUERIES)
         .select(F.col("vec_id").alias("qid"), "s",
                 F.col("sv").alias("qs")))
    lut = (q.join(F.broadcast(cent), "s")
           .select("pk", "qid", "s", "cell",
                   F.round(_dot(F.col("qs"), F.col("centroid")), 9)
                    .cast("decimal(28,9)").alias("pd")))
    scored = (codes.join(F.broadcast(lut), ["pk", "s", "cell"])
              .filter(F.col("vec_id") != F.col("qid"))
              .groupBy("pk", "qid", "vec_id")
              .agg(F.round(F.sum("pd").cast("double"), 6)
                    .alias("approx_dot")))
    w = W.partitionBy("pk", "qid").orderBy(F.col("approx_dot").desc(),
                                           F.col("vec_id"))
    topk = (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOP_K).select("pk", "qid", "vec_id"))
    hits = (topk.join(brute, ["qid", "vec_id"], "left_semi")
            .groupBy("pk")
            .agg(F.count("*").cast("bigint").alias("hits")))
    # k-domain join-back so a (theoretical) zero-hit leg still reports
    # its row — the old per-leg agg-without-groupBy form always did
    ks = (spark.range(1)
          .select(F.explode(F.array([F.lit(k) for k in KNEE_KS]))
                  .alias("pk"))
          .select(F.col("pk").cast("int").alias("pk")))
    return (ks.join(hits, "pk", "left").crossJoin(F.broadcast(nq))
            .select(F.col("pk").alias("pq_k"), "n_queries",
                    F.coalesce("hits", F.lit(0)).cast("bigint")
                     .alias("sum_hits"),
                    (F.coalesce("hits", F.lit(0)).cast("double")
                     / (F.col("n_queries") * TOP_K))
                    .alias("mean_recall")))


def _pq_leg_sql(pq_k: int) -> str:
    """One codebook-size leg: the ANN_PQ_TOPK_SQL pipeline with
    suffix-isolated CTE names (so the legs coexist in one WITH), then
    the exact-integer recall fold against the shared ``brute`` truth."""
    from bigarrays_jl_spark.operators.similarity import (N_QUERIES,
                                                         PQ_ITERS,
                                                         PQ_SUBDIM, TOP_K)
    sfx = f"k{pq_k}"
    return f"""
SELECT CAST({pq_k} AS INT) AS pq_k,
       CAST(count(*) AS BIGINT) AS n_queries,
       CAST(sum(h) AS BIGINT) AS sum_hits,
       CAST(sum(h) AS DOUBLE) / (count(*) * {TOP_K}) AS mean_recall
FROM (
  SELECT q.qid, coalesce((
    SELECT count(*) FROM (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid
                   ORDER BY approx_dot DESC, vec_id) AS rank
        FROM (
          SELECT lut.qid, codes{sfx}.vec_id,
                 round(CAST(sum(pd) AS DOUBLE), 6) AS approx_dot
          FROM codes{sfx}
          JOIN (SELECT vec_id AS qid, s2.s, c.cell,
                       CAST(round(list_sum(list_transform(
                           range(1, {PQ_SUBDIM + 1}),
                           i -> sv[i] * centroid[i])), 9)
                         AS DECIMAL(28,9)) AS pd
                FROM sub{sfx} s2
                JOIN cent{sfx}{PQ_ITERS} c ON c.s = s2.s
                WHERE vec_id < {N_QUERIES}) lut
            ON lut.s = codes{sfx}.s AND lut.cell = codes{sfx}.cell
          WHERE codes{sfx}.vec_id <> lut.qid
          GROUP BY 1, 2))
      WHERE rank <= {TOP_K}) a
    WHERE a.qid = q.qid
      AND EXISTS (SELECT 1 FROM brute b
                  WHERE b.qid = a.qid AND b.vec_id = a.vec_id)), 0) AS h
  FROM (SELECT DISTINCT qid FROM brute) q)"""


def _knee_sql() -> str:
    from bigarrays_jl_spark.operators.similarity import (
        ANN_COSINE_TOPK_SQL, _pq_ctes)
    ctes = ",\n".join(_pq_ctes(pq_k=k, suffix=f"k{k}") for k in KNEE_KS)
    legs = " UNION ALL ".join(_pq_leg_sql(k) for k in KNEE_KS)
    return f"""
WITH {ctes},
brute AS (SELECT qid, vec_id FROM ({ANN_COSINE_TOPK_SQL}) bb)
{legs}
"""


ANN_PQ_RECALL_KNEE_SQL = _knee_sql()


# --------------------------------------------------------------------------
# dedup_span_excise — span-level duplicated-text EXCISION census (the
# "deduplicating training data" substring family's removal step;
# dedup_exact_substring only DETECTS shared runs between doc pairs).
# First occurrence wins: for every distinct RUN_LEN-token window, the
# globally earliest (doc_id, pos) occurrence is canonical; every other
# occurrence — in later docs OR later in the same doc — marks its
# RUN_LEN token positions for excision.  Output is the per-doc census
# (n_tok, n_dup_win, n_excised, n_clean_tok) a curation pipeline uses
# to decide span-dedup savings before rewriting text.
#
# Scale shape: NO pair join anywhere (the detection op needs a df cap
# to bound its inverted-index self-join; excision doesn't — each
# occurrence contributes exactly one row).  Shuffles are (1) ONE
# window-hash shuffle (the canonical-marking window below), O(total
# windows) compact md5 keys, and (2) one per-doc distinct over covered
# positions, fan-out bounded by the constant RUN_LEN.  A license header
# repeated a million times costs a million rows — linear — not the
# million² a pair join pays.  Hot-key note: a groupBy-min + join-back
# alternative (AQE skew-splittable, map-side-combined canon) was
# A/B-measured 1.7× slower at sf0.1 — it re-shuffles every window row
# for the join anyway; the window form pays one sort per hash key
# instead, so only a corpus DOMINATED by one verbatim span (one key
# holding a meaningful fraction of all windows in a single sort task)
# would prefer the join form.
# --------------------------------------------------------------------------

def dedup_span_excise(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window as W
    from bigarrays_jl_spark.functions.expressions import (shingle_array,
                                                          tokens)
    from bigarrays_jl_spark.operators.dedup import RUN_LEN
    from bigarrays_jl_spark.sources.tables import load
    docs = load(spark, sf, "documents").select("doc_id", "text")
    toks = docs.select("doc_id", tokens().alias("t"))
    base = toks.select("doc_id", F.size("t").alias("n_tok"))
    wins = (toks.filter(F.size("t") >= RUN_LEN)
            .select("doc_id",
                    F.posexplode(shingle_array("t", RUN_LEN))
                     .alias("pos0", "w"))
            .select("doc_id", (F.col("pos0") + 1).alias("pos"),
                    F.md5("w").alias("h")))
    # canonical occurrence per window content = rn 1 under
    # (doc_id, pos) — everything later is a duplicated span
    rn = F.row_number().over(W.partitionBy("h").orderBy("doc_id", "pos"))
    nc = (wins.withColumn("rn", rn).filter(F.col("rn") > 1)
          .select("doc_id", "pos"))
    # both censuses fold in ONE pass over nc (guide §1.2/§2.4): the old
    # two-branch form (ndup groupBy + cov explode/distinct/groupBy) ran
    # the h-window sort twice over the shared shingle+md5 exchange and
    # paid two join-backs.  A (doc_id, pos) pair is unique in nc (one h
    # per position), so n_dup_win == countDistinct(pos) survives the
    # coverage explode, and n_excised == countDistinct(p) replaces the
    # distinct+count pair — value-identical, one branch, one join.
    census = (nc.select("doc_id", "pos",
                        F.explode(F.sequence(
                            F.col("pos"),
                            F.col("pos") + F.lit(RUN_LEN - 1))).alias("p"))
              .groupBy("doc_id")
              .agg(F.countDistinct("pos").alias("n_dup_win"),
                   F.countDistinct("p").alias("n_excised")))
    return (base.join(census, "doc_id", "left")
            .select("doc_id",
                    F.col("n_tok").cast("bigint").alias("n_tok"),
                    F.coalesce("n_dup_win", F.lit(0)).cast("bigint")
                     .alias("n_dup_win"),
                    F.coalesce("n_excised", F.lit(0)).cast("bigint")
                     .alias("n_excised"),
                    (F.col("n_tok") - F.coalesce("n_excised", F.lit(0)))
                     .cast("bigint").alias("n_clean_tok")))


def _span_excise_sql() -> str:
    from bigarrays_jl_spark.operators.dedup import RUN_LEN
    return rf"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents),
base AS (SELECT doc_id, len(t) AS n_tok FROM toks),
wins AS (
  SELECT doc_id, i AS pos,
         md5(array_to_string(t[i:i+{RUN_LEN - 1}], ' ')) AS h
  FROM toks, UNNEST(generate_series(1, len(t) - {RUN_LEN - 1})) u(i)
  WHERE len(t) >= {RUN_LEN}),
rn AS (
  SELECT doc_id, pos,
         row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
  FROM wins),
nc AS (SELECT doc_id, pos FROM rn WHERE rn > 1),
ndup AS (SELECT doc_id, count(*) AS n_dup_win FROM nc GROUP BY doc_id),
cov AS (
  SELECT doc_id, count(*) AS n_excised FROM (
    SELECT DISTINCT doc_id, pos + j AS p
    FROM nc, UNNEST(generate_series(0, {RUN_LEN - 1})) v(j)) cp
  GROUP BY doc_id)
SELECT b.doc_id, CAST(b.n_tok AS BIGINT) AS n_tok,
       CAST(coalesce(n.n_dup_win, 0) AS BIGINT) AS n_dup_win,
       CAST(coalesce(c.n_excised, 0) AS BIGINT) AS n_excised,
       CAST(b.n_tok - coalesce(c.n_excised, 0) AS BIGINT) AS n_clean_tok
FROM base b
LEFT JOIN ndup n ON n.doc_id = b.doc_id
LEFT JOIN cov c ON c.doc_id = b.doc_id
"""


DEDUP_SPAN_EXCISE_SQL = _span_excise_sql()


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
    "ann_pq_recall_knee": ann_pq_recall_knee,
    "dedup_span_excise": dedup_span_excise,
    "pipeline_temperature_mix": pipeline_temperature_mix,
}

ORACLES = {
    "ann_pq_recall_knee": ANN_PQ_RECALL_KNEE_SQL,
    "dedup_span_excise": DEDUP_SPAN_EXCISE_SQL,
    "pipeline_temperature_mix": PIPELINE_TEMPERATURE_MIX_SQL,
}
