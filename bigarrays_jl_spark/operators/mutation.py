"""Batch mutation semantics — MERGE INTO / CDC-apply (builder
extension, SURVEY §2C round 8).

``pipeline_apply_changes`` applies a change feed (inserts, updates,
deletes keyed by doc_id) to the documents base table and returns the
merged table — the lakehouse MERGE/upsert primitive every incremental
corpus pipeline needs (the incremental-dedup bridges in ``dedup.py``
maintain *indexes*; this maintains the *table*).

The change feed is derived deterministically from the base so the
DuckDB twin reproduces it exactly:

- doc_id % 17 == 0            → DELETE
- else doc_id % 10 == 0       → UPDATE (re-sourced + re-measured)
- doc_id % 25 == 0 (new keys) → INSERT as doc_id + INSERT_OFFSET

Scale shape: one key-partitioned FULL OUTER join between base and
changes — exactly the physical plan a MERGE INTO compiles to — then a
row-level CASE; no broadcast assumption on the change side (change
feeds can be as big as the base), no collect, no second scan of the
base.  Precedence is deterministic: the change feed carries at most
one row per key by construction (delete wins over update by the
``% 17`` guard).

PRECONDITION of the synthetic feed: insert keys are
``doc_id + INSERT_OFFSET``, so the demo requires
``max(doc_id) < INSERT_OFFSET`` — otherwise an "insert" would collide
with a real base key and silently become an update.
``tests/test_round9_ops.py::test_insert_offset_precondition`` pins the
margin against the largest test corpus; a production feed carries its
own keys and has no such constraint.

Also: SCD2 history and point-in-time reads, the erasure audit and
the data-quality / foreign-key reconciliation audits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigarrays_jl_spark.sources.tables import load

INSERT_OFFSET = 1_000_000


_MERGE_COLS = ("lang", "source", "n_chars")


def merge_changes(base: DataFrame, changes: DataFrame) -> DataFrame:
    """Apply a change feed ``(doc_id, op, c_lang, c_source, c_n_chars)``
    to a ``(doc_id, lang, source, n_chars)`` base — THE merge core
    shared by the batch operators below and the durable streaming
    bridge (``streaming.windows.streaming_apply_changes``), so batch
    and streaming can never disagree on merge semantics.  One
    key-partitioned full-outer join + row-level CASE.  Caller contract:
    at most one change per key per feed (the streaming bridge enforces
    this with an op-precedence collapse).

    Two update dialects, chosen by the feed's schema:

    - legacy 5-column feed: ``coalesce(c_X, X)`` — an update cannot
      set a column to NULL (a NULL change value means "keep").
    - flagged feed carrying ``c_X_set`` booleans: column X becomes
      ``c_X`` (NULL included) exactly when its flag is true — the
      CDC-complete dialect; a false/absent flag keeps the base value.
      Inserts must set every flag true."""
    flagged = f"c_{_MERGE_COLS[0]}_set" in changes.columns
    if flagged:
        def val(c):
            return (F.when(F.coalesce(F.col(f"c_{c}_set"), F.lit(False)),
                           F.col(f"c_{c}"))
                     .otherwise(F.col(c)).alias(c))
    else:
        def val(c):
            return F.coalesce(f"c_{c}", c).alias(c)
    return (base.join(changes, "doc_id", "full_outer")
            .filter(F.coalesce(F.col("op"), F.lit("")) != "delete")
            .select("doc_id", *[val(c) for c in _MERGE_COLS],
                    F.coalesce("op", F.lit("keep")).alias("last_op")))


def derive_change_feed(d: DataFrame) -> DataFrame:
    """The deterministic demo change feed (see module doc) — factored
    so the streaming bridge test can replay the identical feed."""
    deletes = (d.filter(F.col("doc_id") % 17 == 0)
                .select("doc_id", F.lit("delete").alias("op"),
                        F.lit(None).cast("string").alias("c_lang"),
                        F.lit(None).cast("string").alias("c_source"),
                        F.lit(None).cast("bigint").alias("c_n_chars")))
    updates = (d.filter((F.col("doc_id") % 17 != 0)
                        & (F.col("doc_id") % 10 == 0))
                .select("doc_id", F.lit("update").alias("op"),
                        F.col("lang").alias("c_lang"),
                        F.lit("curated").alias("c_source"),
                        (F.col("n_chars") + 1).alias("c_n_chars")))
    inserts = (d.filter(F.col("doc_id") % 25 == 0)
                .select((F.col("doc_id") + INSERT_OFFSET).alias("doc_id"),
                        F.lit("insert").alias("op"),
                        F.col("lang").alias("c_lang"),
                        F.lit("synthetic").alias("c_source"),
                        F.col("n_chars").alias("c_n_chars")))
    return deletes.unionAll(updates).unionAll(inserts)


def pipeline_apply_changes(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents").select(
        "doc_id", "lang", "source", "n_chars")
    return merge_changes(d, derive_change_feed(d))


PIPELINE_APPLY_CHANGES_SQL = f"""
WITH d AS (SELECT doc_id, lang, source, n_chars FROM documents),
changes AS (
  SELECT doc_id, 'delete' AS op, CAST(NULL AS VARCHAR) AS c_lang,
         CAST(NULL AS VARCHAR) AS c_source, CAST(NULL AS BIGINT) AS c_n_chars
  FROM d WHERE doc_id % 17 = 0
  UNION ALL
  SELECT doc_id, 'update', lang, 'curated', n_chars + 1
  FROM d WHERE doc_id % 17 <> 0 AND doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + {INSERT_OFFSET}, 'insert', lang, 'synthetic', n_chars
  FROM d WHERE doc_id % 25 = 0)
SELECT coalesce(d.doc_id, c.doc_id) AS doc_id,
       coalesce(c.c_lang, d.lang) AS lang,
       coalesce(c.c_source, d.source) AS source,
       coalesce(c.c_n_chars, d.n_chars) AS n_chars,
       coalesce(c.op, 'keep') AS last_op
FROM d FULL OUTER JOIN changes c ON d.doc_id = c.doc_id
WHERE coalesce(c.op, '') <> 'delete'
"""


# dq_audit: Deequ-style constraint suite (completeness, uniqueness,
# referential integrity, domain/range checks) — every check a
# map-side conditional aggregate except the referential anti-join;
# one pass over the fact table, constraints exploded from one row.

# --------------------------------------------------------------------------
# dq_audit — Deequ-style data-quality constraint suite over the fact
# tables: completeness, uniqueness, referential integrity, range and
# domain membership.  Plan shape: ONE conditional-aggregate pass over
# lineitem (every range/domain check a map-side sum), one over orders,
# one broadcast anti-join for the orphan count — the three single-row
# results cross-joined and exploded into the constraint rows, so the
# fact table is scanned once no matter how many checks ride it.
# Fraction metrics are exact-int quotients, emitted unrounded.
# --------------------------------------------------------------------------

def dq_audit(spark: SparkSession, sf: str) -> DataFrame:
    li = load(spark, sf, "lineitem")
    od = load(spark, sf, "orders")
    frac = lambda c: (F.sum(F.when(c, 1).otherwise(0)).cast("double")
                      / F.count("*"))
    li_stats = li.agg(
        F.count("*").cast("double").alias("li_rows"),
        frac(F.col("l_quantity").between(1, 50)).alias("qty_ok"),
        frac(F.col("l_returnflag").isin("A", "N", "R")).alias("flag_ok"),
        frac(F.col("l_extendedprice") > 0).alias("price_ok"),
        frac(F.col("l_shipdate").isNotNull()).alias("ship_ok"),
        frac(F.col("l_discount").between(0, 1)).alias("disc_ok"))
    od_stats = od.agg(
        (F.count_distinct(F.col("o_orderkey")).cast("double")
         / F.count("*")).alias("okey_uniq"))
    orphans = (li.select("l_orderkey")
               .join(F.broadcast(od.select("o_orderkey")),
                     F.col("l_orderkey") == F.col("o_orderkey"),
                     "left_anti")
               .agg(F.count("*").cast("double").alias("orphan_rows")))
    row = li_stats.crossJoin(od_stats).crossJoin(orphans)
    mk = lambda name, metric, ok: F.struct(
        F.lit(name).alias("check"), metric.alias("metric"), ok.alias("ok"))
    return (row.select(F.explode(F.array(
        mk("lineitem_rowcount", F.col("li_rows"), F.col("li_rows") > 0),
        mk("orderkey_unique", F.col("okey_uniq"),
           F.col("okey_uniq") == 1.0),
        mk("lineitem_orphans", F.col("orphan_rows"),
           F.col("orphan_rows") == 0.0),
        mk("quantity_in_range", F.col("qty_ok"), F.col("qty_ok") == 1.0),
        mk("returnflag_domain", F.col("flag_ok"), F.col("flag_ok") == 1.0),
        mk("price_positive", F.col("price_ok"), F.col("price_ok") == 1.0),
        mk("shipdate_complete", F.col("ship_ok"), F.col("ship_ok") >= 0.99),
        mk("discount_in_range", F.col("disc_ok"),
           F.col("disc_ok") == 1.0))).alias("c"))
        .select("c.*"))


DQ_AUDIT_SQL = """
WITH li AS (
  SELECT CAST(count(*) AS DOUBLE) AS li_rows,
         CAST(sum(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 1 ELSE 0 END)
              AS DOUBLE) / count(*) AS qty_ok,
         CAST(sum(CASE WHEN l_returnflag IN ('A','N','R') THEN 1 ELSE 0 END)
              AS DOUBLE) / count(*) AS flag_ok,
         CAST(sum(CASE WHEN l_extendedprice > 0 THEN 1 ELSE 0 END)
              AS DOUBLE) / count(*) AS price_ok,
         CAST(sum(CASE WHEN l_shipdate IS NOT NULL THEN 1 ELSE 0 END)
              AS DOUBLE) / count(*) AS ship_ok,
         CAST(sum(CASE WHEN l_discount BETWEEN 0 AND 1 THEN 1 ELSE 0 END)
              AS DOUBLE) / count(*) AS disc_ok
  FROM lineitem),
od AS (
  SELECT CAST(count(DISTINCT o_orderkey) AS DOUBLE) / count(*) AS okey_uniq
  FROM orders),
orph AS (
  SELECT CAST(count(*) AS DOUBLE) AS orphan_rows
  FROM lineitem l WHERE NOT EXISTS
    (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
SELECT 'lineitem_rowcount' AS check, li_rows AS metric, li_rows > 0 AS ok
  FROM li
UNION ALL SELECT 'orderkey_unique', okey_uniq, okey_uniq = 1.0 FROM od
UNION ALL SELECT 'lineitem_orphans', orphan_rows, orphan_rows = 0.0
  FROM orph
UNION ALL SELECT 'quantity_in_range', qty_ok, qty_ok = 1.0 FROM li
UNION ALL SELECT 'returnflag_domain', flag_ok, flag_ok = 1.0 FROM li
UNION ALL SELECT 'price_positive', price_ok, price_ok = 1.0 FROM li
UNION ALL SELECT 'shipdate_complete', ship_ok, ship_ok >= 0.99 FROM li
UNION ALL SELECT 'discount_in_range', disc_ok, disc_ok = 1.0 FROM li
"""


# scd2_history: the slowly-changing-dimension type-2 build — collapse
# a change stream into validity intervals [valid_from, valid_to) per
# key via gaps-and-islands (consecutive-duplicate suppression) + lead.
# Per-key windows only; state bounded by a key's change count.

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


# ``fk_reconciliation`` — referential-integrity audit across the star
# schema's four foreign keys (lineitem→orders, lineitem→part,
# lineitem→supplier, orders→customer): orphan counts in both
# directions (child rows without a parent; parent rows never
# referenced) via LEFT ANTI joins.  The data-reconciliation class
# that complements dq_audit's domain checks.  One summary row per
# relation, so output is O(relations).

def fk_reconciliation(spark: SparkSession, sf: str) -> DataFrame:
    """Orphan census per star-schema relation: child keys without a
    parent and parent keys never referenced (LEFT ANTI both ways)."""
    li = load(spark, sf, "lineitem")
    o = load(spark, sf, "orders")
    p = load(spark, sf, "part")
    s = load(spark, sf, "supplier")
    c = load(spark, sf, "customer")

    def audit(rel, child, ckey, parent, pkey):
        ck = child.select(F.col(ckey).alias("k"))
        pk = parent.select(F.col(pkey).alias("k"))
        orphans = ck.join(pk.distinct(), "k", "left_anti") \
                    .agg(F.count("*").alias("c")) \
                    .select(F.lit(rel).alias("relation"),
                            F.col("c").alias("orphan_children"))
        unref = pk.join(ck.distinct(), "k", "left_anti") \
                  .agg(F.count("*").alias("c")) \
                  .select(F.lit(rel).alias("relation"),
                          F.col("c").alias("unreferenced_parents"))
        return orphans.join(unref, "relation")

    out = audit("lineitem->orders", li, "l_orderkey", o, "o_orderkey")
    for args in (("lineitem->part", li, "l_partkey", p, "p_partkey"),
                 ("lineitem->supplier", li, "l_suppkey", s, "s_suppkey"),
                 ("orders->customer", o, "o_custkey", c, "c_custkey")):
        out = out.unionByName(audit(*args))
    return out.select("relation",
                      F.col("orphan_children").cast("bigint")
                      .alias("orphan_children"),
                      F.col("unreferenced_parents").cast("bigint")
                      .alias("unreferenced_parents"))


# NOT EXISTS (not NOT IN): a referential-integrity audit exists to
# survive dirty keys, and NOT IN returns zero rows the moment the
# subquery holds a single NULL — diverging from the Spark side's
# LEFT ANTI join, which counts NULL-key children as orphans exactly
# like NOT EXISTS does.
FK_SQL = """
WITH rel AS (
  SELECT 'lineitem->orders' AS relation,
         (SELECT count(*) FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM orders o
                            WHERE o.o_orderkey = l.l_orderkey))
           AS orphan_children,
         (SELECT count(*) FROM orders o
          WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                            WHERE l.l_orderkey = o.o_orderkey))
           AS unreferenced_parents
  UNION ALL
  SELECT 'lineitem->part',
         (SELECT count(*) FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM part p
                            WHERE p.p_partkey = l.l_partkey)),
         (SELECT count(*) FROM part p
          WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                            WHERE l.l_partkey = p.p_partkey))
  UNION ALL
  SELECT 'lineitem->supplier',
         (SELECT count(*) FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM supplier s
                            WHERE s.s_suppkey = l.l_suppkey)),
         (SELECT count(*) FROM supplier s
          WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                            WHERE l.l_suppkey = s.s_suppkey))
  UNION ALL
  SELECT 'orders->customer',
         (SELECT count(*) FROM orders o
          WHERE NOT EXISTS (SELECT 1 FROM customer c
                            WHERE c.c_custkey = o.o_custkey)),
         (SELECT count(*) FROM customer c
          WHERE NOT EXISTS (SELECT 1 FROM orders o
                            WHERE o.o_custkey = c.c_custkey)))
SELECT relation, CAST(orphan_children AS BIGINT) AS orphan_children,
       CAST(unreferenced_parents AS BIGINT) AS unreferenced_parents
FROM rel
"""


ERASE_MOD = 97


# ``user_erasure_audit`` — right-to-be-forgotten propagation audit:
# for a deterministic erasure cohort (user_id % 97 == 0), the residual
# row count and distinct surviving users per event type — the
# compliance query every deletion pipeline runs after a scrub pass.
# Map-side filter + one partial-agg shuffle.
#
# Scale: the audit is a filtered scan.

def user_erasure_audit(spark: SparkSession, sf: str) -> DataFrame:
    e = load(spark, sf, "events").select("user_id", "event_type")
    erased = F.col("user_id") % ERASE_MOD == 0
    return (e.groupBy("event_type")
            .agg(F.count("*").cast("bigint").alias("n_rows"),
                 F.sum(erased.cast("int")).cast("bigint")
                  .alias("n_residual_rows"),
                 F.countDistinct(F.when(erased, F.col("user_id")))
                  .cast("bigint").alias("n_residual_users")))


USER_ERASURE_SQL = f"""
SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN user_id % {ERASE_MOD} = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_residual_rows,
       CAST(count(DISTINCT CASE WHEN user_id % {ERASE_MOD} = 0
                                THEN user_id END) AS BIGINT)
         AS n_residual_users
FROM events GROUP BY event_type
"""


QUERIES = {
    "pipeline_apply_changes": pipeline_apply_changes,
    "dq_audit": dq_audit,
    "scd2_history": scd2_history,
    "scd2_point_in_time": scd2_point_in_time,
    "fk_reconciliation": fk_reconciliation,
    "user_erasure_audit": user_erasure_audit,
}

ORACLES = {
    "pipeline_apply_changes": PIPELINE_APPLY_CHANGES_SQL,
    "dq_audit": DQ_AUDIT_SQL,
    "scd2_history": SCD2_HISTORY_SQL,
    "scd2_point_in_time": SCD2_POINT_IN_TIME_SQL,
    "fk_reconciliation": FK_SQL,
    "user_erasure_audit": USER_ERASURE_SQL,
}
