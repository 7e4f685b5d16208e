"""Round-15 batch (builder extension, SURVEY §2C): two bounded
screening structures with exact audits — ``cm_heavyhitters`` (Count-
Min frequency sketch) and ``bloom_decontaminate`` (Bloom-filter
decontamination pre-screen, defined below).

``cm_heavyhitters`` — Count-Min sketch audit over document word
bigrams: a D×W integer bucket table (D=4 hash rows, W=1024 buckets —
4096 counters TOTAL at any corpus size) summarizes every bigram's
frequency; the query grades the sketch against exact truth by
estimating the exact top-20 bigrams through the sketch and reporting
the per-gram overestimate.  CM sketches never underestimate
(``cm_est ≥ exact_n`` structurally — each of the d counters holding a
gram is the gram's count plus its bucket-collisions), so the audit's
``overest`` column is a non-negative integer and the whole result is
hash-exact across engines: the bucket hash is the repo's md5-nibble
idiom (``conv(substr(md5(j:gram),1,8),16,10) % W`` — pure integer ops
both sides), counts are integers, no tolerance band anywhere.

This completes the mergeable-sketch family (KMV distinct counts,
decimal-HDR quantiles, and now CM frequencies): like the others the
sketch state is BOUNDED (4096 integers) and EXACTLY MERGEABLE (bucket
counts add), so ``streaming/cm.py`` runs the same sketch as per-batch
partials with snapshot == batch pinned, and N shards/datacenters merge
by bucket addition.

Scale shape: one map-side shingle fold to (distinct grams) rows, a ×D
explode shuffled onto D×W = 4096 keys, and the audit side joins only
the top-20 grams (broadcast-sized) against the 4096-row sketch.  At
100 TB the sketch is still 4096 integers; only the exact-truth leg
(the thing the sketch exists to replace) scales with the corpus, and
in production only the sketch side runs — the same exact-vs-sketch
pairing as sketch_union_distinct.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from bigarrays_jl_spark.checkpointing import materialize
from bigarrays_jl_spark.functions.expressions import shingle_array
from bigarrays_jl_spark.sources.tables import load

CM_D = 4            # hash rows
CM_W = 1024         # buckets per row
CM_TOPK = 20


def cm_bucket(j: int, gram: Column) -> Column:
    """Row-``j`` CM bucket of a gram: first 8 md5 nibbles of
    ``"j:gram"`` as an exact BIGINT, mod W — the repo's cross-engine
    hash idiom (dedup.py minhash, round11d.py KMV)."""
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
    exact = materialize(gram_counts(spark, sf), eager=False)
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


# 8 md5 nibbles → exact int, digit-wise (DuckDB has no conv(); the
# KMV/simhash oracle idiom, round11d.py)
def _hex8(expr: str) -> str:
    return " + ".join(
        f"(strpos('0123456789abcdef', substr({expr}, {i + 1}, 1)) - 1) "
        f"* {16 ** (7 - i)}" for i in range(8))


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
    "cm_heavyhitters": cm_heavyhitters,
}

ORACLES = {
    "cm_heavyhitters": CM_HEAVYHITTERS_SQL,
}


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
    from bigarrays_jl_spark.operators.pipeline import DECON_NGRAM
    d = load(spark, sf, "documents").select("doc_id", tokens().alias("t"))
    arr = materialize(                   # eval + train legs reuse
        d.select("doc_id", F.array_distinct(
            shingle_array("t", DECON_NGRAM)).alias("ss")), eager=False)
    ev = materialize(                    # bitset + exact-audit legs
        arr.filter(F.col("doc_id") % 10 == 0)
        .select(F.explode("ss").alias("s")).distinct(), eager=False)
    jarr = F.array(*[F.lit(j) for j in range(BLOOM_K)])
    bits = (ev.select(F.explode(jarr).alias("j"), "s")
            .select("j", bloom_bit_col().alias("bit")).distinct())
    tr = materialize(                    # screen + audit legs
        arr.filter(F.col("doc_id") % 10 != 0)
        .select("doc_id", F.explode("ss").alias("s")), eager=False)
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
    above and round16's gram-emitting screen."""
    # one evaluation of the (distinct) bitset feeds K broadcast builds
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

QUERIES["bloom_decontaminate"] = bloom_decontaminate
ORACLES["bloom_decontaminate"] = BLOOM_DECONTAMINATE_SQL
