"""Scale-safe global-ordering primitives (no single-partition windows).

A bare whole-table ``ORDER BY`` window (``row_number()`` / running sum
with no PARTITION BY) plans as ``Exchange SinglePartition`` — every row
funnels through ONE task, which is correct at test scale and dead at
100 TB.  These helpers compute the exact same answers with the classic
two-phase distributed-rank pattern instead:

1. approximate range boundaries over the sort key
   (``percentile_approx``, one tiny driver list) assign each row to an
   ordered range bucket — ties share a bucket, so bucket order is a
   total pre-order of the sort key;
2. exact per-bucket weight totals (≤ #buckets rows to the driver)
   become cumulative offsets, broadcast back as a literal map;
3. the only window is per-bucket (bounded at ~n/buckets rows):
   global prefix sum = offset[bucket] + within-bucket prefix sum.

Bucket count tracks ``spark.sql.shuffle.partitions`` so the plan scales
with the cluster instead of a fixed-width funnel.  ``distributed_ntile``
(operators/advanced.py) and the corpus-packing / global-id operators
(operators/pipeline.py) are all built on this one primitive.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType
from pyspark.sql.window import Window as W

from ..checkpointing import materialize


def distributed_prefix_sum(spark: SparkSession, df: DataFrame,
                           weight: Column, value: str, tiebreak: str,
                           out: str = "cum") -> tuple[DataFrame, int]:
    """``df`` plus column ``out`` = the inclusive prefix sum of
    ``weight`` over the global ``(value, tiebreak)`` order, computed
    without any whole-table window.  Returns ``(df, grand_total)``.

    ``weight`` must be an integral Column (per-bucket subtotals are
    collected to the driver as Python ints); ``value`` must be numeric
    (range boundaries come from ``percentile_approx``); ``(value,
    tiebreak)`` must be a total order for the result to be
    deterministic.  A constant ``F.lit(1)`` weight yields the global
    ``row_number``.

    The source is scanned ONCE: an eager ``localCheckpoint`` materializes
    the input before the percentile probe, so the probe, the per-bucket
    totals and the final per-bucket window all read the materialized
    blocks instead of rescanning the corpus three times (at 100 TB those
    were three full passes over the tokenized table).  Same
    lineage-truncation-for-recompute tradeoff as the LSH signature
    tables in dedup.py; project ``df`` down to the needed columns before
    calling so the checkpoint holds only what the rank needs.

    Two costs are inherent and worth knowing at cluster scale: (1) this
    function runs driver-side actions (the probe and per-bucket totals)
    at CONSTRUCTION time — the offsets must become literals — so merely
    building the plan scans the input once; (2) the default
    materialization is executor-local (``localCheckpoint``), so losing
    an executor loses its blocks without lineage to recompute — on a
    long-lived cluster with dynamic allocation, set
    ``sparkgraft.checkpoint.reliable=true`` (plus ``setCheckpointDir``)
    and every primitive here writes its blocks to reliable storage
    instead, at the cost of one write (see ``checkpointing.py``;
    bit-identical results in both modes, pytest-pinned).
    """
    n_buckets = max(
        int(spark.conf.get("spark.sql.shuffle.partitions", "32")), 2)
    probs = [i / n_buckets for i in range(1, n_buckets)]
    df = materialize(df, eager=True)  # the single source scan
    head = df.select(F.percentile_approx(value, probs).alias("b")).first()
    raw = head["b"] if head is not None else None
    if raw is None:  # empty input: nothing to rank
        return df.withColumn(out, F.lit(None).cast("bigint")), 0
    bounds = sorted(set(float(x) for x in raw))
    barr = F.array(*[F.lit(x) for x in bounds])
    bucket = F.size(F.filter(barr, lambda b: F.col(value) > b))
    bucketed = df.withColumn("__bkt", bucket)

    stats = (bucketed.groupBy("__bkt")
             .agg(F.sum(weight).alias("s"),
                  F.count(F.when(F.col(value).isNull(), 1)).alias("nn"))
             .collect())
    if any(r["nn"] for r in stats):
        raise ValueError(
            f"distributed_prefix_sum requires non-null {value!r} (Spark "
            "orders NULLs first asc, DuckDB last — NULL rows would rank "
            "differently per engine); coalesce a sentinel before calling")
    per = {r["__bkt"]: r["s"] for r in stats}
    offsets, acc = {}, 0
    for b in sorted(per):
        offsets[b] = acc
        acc += per[b]
    off_map = F.create_map(*[F.lit(v) for b in sorted(offsets)
                             for v in (b, offsets[b])])

    w = (W.partitionBy("__bkt").orderBy(value, tiebreak)
          .rowsBetween(W.unboundedPreceding, W.currentRow))
    cum = F.sum(weight).over(w) + F.element_at(off_map, F.col("__bkt"))
    return (bucketed.withColumn(out, cum.cast("bigint")).drop("__bkt"), acc)


def grouped_ntile(spark: SparkSession, df: DataFrame, n_tiles: int,
                  group: str, value: str, tiebreak: str) -> DataFrame:
    """``df`` plus a ``tile`` column: exact per-``group`` ntile over
    ``(value, tiebreak)`` with NO per-group whole-partition window.

    A bare ``ntile() OVER (PARTITION BY group ORDER BY ...)`` funnels
    each group through one task — fatal when one group dominates (an
    80%-English corpus at 100 TB).  Same two-phase pattern as
    :func:`distributed_prefix_sum`, grouped: per-group approximate range
    boundaries split every group into ordered sub-buckets, exact
    per-(group, sub-bucket) counts (≤ groups × buckets rows to the
    driver) become rank offsets broadcast back as literal maps, and the
    only window is per-(group, sub-bucket).  Matches the SQL ``ntile``
    split exactly (first ``total % n_tiles`` tiles get the extra row).
    Group cardinality must be modest (the boundary/offset maps are
    literal expressions); the size of each group is unconstrained.
    NULL groups form their own partition (both engines' PARTITION BY
    semantics) via an internal coalesced key, so no row can silently
    vanish through the boundary join; NULL *values* and NULL
    *tiebreaks* are rejected — their ordering differs between engines
    (Spark asc is NULLS FIRST, DuckDB NULLS LAST) — detected inside the
    existing per-bucket aggregation so the guards cost no extra scan.
    String group columns must not contain ``"\\x1f"`` (the internal
    key separator); violations raise instead of silently colliding
    with the NULL-group sentinel or another group's offset key.
    """
    n_buckets = max(
        int(spark.conf.get("spark.sql.shuffle.partitions", "32")), 2)
    probs = [i / n_buckets for i in range(1, n_buckets)]
    sep = "\x1f"
    null_g = sep + "NULL"  # non-string groups can't collide (casts never
    # produce \x1f); string groups containing the sep are rejected below
    # without it `text_quality_buckets` runs 4 parquet scans, not 1
    df = materialize(df.withColumn(
        "__g", F.coalesce(F.col(group).cast("string"), F.lit(null_g))
    ), eager=True)
    bdf = (df.groupBy("__g")
           .agg(F.percentile_approx(value, probs).alias("__bs")))
    j = df.join(F.broadcast(bdf), "__g")
    bucket = F.size(F.filter(F.col("__bs"), lambda b: F.col(value) > b))
    bucketed = j.withColumn("__bkt", bucket).drop("__bs")

    per = (bucketed.groupBy("__g", "__bkt")
           .agg(F.count("*").alias("c"),
                F.count(F.when(F.col(value).isNull(), 1)).alias("nn"),
                F.count(F.when(F.col(tiebreak).isNull(), 1)).alias("tn"),
                # checked on the RAW column (NULL groups yield NULL and
                # drop out of max), so a group string literally equal to
                # the '\x1fNULL' sentinel is flagged too instead of
                # silently merging with the NULL group
                F.max(F.col(group).cast("string").contains(sep))
                 .alias("sep_g"))
           .collect())
    if any(r["nn"] for r in per):
        raise ValueError(
            f"grouped_ntile requires non-null {value!r} (engines order "
            f"NULLs differently); coalesce a sentinel before calling")
    if any(r["tn"] for r in per):
        raise ValueError(
            f"grouped_ntile requires non-null {tiebreak!r} (Spark orders "
            "NULLs first asc, DuckDB last — ties would break cross-engine "
            "parity); coalesce a sentinel before calling")
    if any(r["sep_g"] for r in per):
        raise ValueError(
            f"grouped_ntile group column {group!r} contains the internal "
            "separator '\\x1f'; such keys would collide with the offset "
            "map — clean the group values before calling")
    offsets, totals = {}, {}
    for r in sorted(per, key=lambda r: (r["__g"], r["__bkt"])):
        g = r["__g"]
        offsets[(g, r["__bkt"])] = totals.get(g, 0)
        totals[g] = totals.get(g, 0) + r["c"]
    off_map = F.create_map(*[F.lit(v) for (g, b), o in offsets.items()
                             for v in (f"{g}{sep}{b}", o)])
    tot_map = F.create_map(*[F.lit(v) for g, t in totals.items()
                             for v in (g, t)])
    gkey = F.col("__g")
    okey = F.concat_ws(sep, gkey, F.col("__bkt").cast("string"))

    w = W.partitionBy("__g", "__bkt").orderBy(value, tiebreak)
    rank = F.row_number().over(w) + F.element_at(off_map, okey)
    total = F.element_at(tot_map, gkey)
    return (bucketed.withColumn("tile", rank_to_tile(rank, total, n_tiles))
            .drop("__bkt", "__g"))


def rank_to_tile(rank, total, n_tiles: int):
    """The SQL ``ntile`` split as a Column expression: ranks 1..total map
    to tiles 1..n_tiles with the first ``total % n_tiles`` tiles one row
    larger — the one shared implementation behind grouped_ntile and
    distributed_ntile (the q==0 / max(q,1) edge cases live here ONCE).
    ``rank``/``total`` are Columns (wrap ints in ``F.lit``)."""
    q = F.floor(total / n_tiles)
    rem = total % n_tiles
    big = rem * (q + 1)  # rows covered by the (q+1)-sized leading tiles
    # when q == 0, big == total so the first branch covers every rank
    tile = F.when(rank <= big, F.floor((rank - 1) / (q + 1))) \
            .otherwise(rem + F.floor((rank - big - 1)
                                     / F.greatest(q, F.lit(1))))
    return (tile + 1).cast("int")


def capped_by_hash_order(df: DataFrame, group_col: str, id_col: str,
                         cap: int, out_col: str = "pick_order") -> DataFrame:
    """Exact top-``cap`` rows per group, ordered by (md5(id), id) —
    without ever running a per-group window over a whole group.

    The skew problem with ``row_number() OVER (PARTITION BY group ORDER
    BY md5(id))`` is one dominant group funneling through one task.
    Because the ranking key IS the md5 hex string, its first two hex
    chars are a PREFIX of the sort order — so a per-(group, prefix)
    count (≤256 rows per group, balanced shuffle) tells exactly which
    prefix bucket the cap falls in:

    1. count rows per (group, 2-hex-char prefix);
    2. cumulative count over the ≤256 prefixes inside each group (a
       window over a tiny aggregate, never over data rows) → the
       smallest prefix where the running total reaches ``cap``;
    3. keep only rows at or below that group's cutoff prefix —
       ~cap + n/256 expected survivors per group — and run the exact
       rank window over those survivors alone.

    Pure DataFrame end to end (no driver collect), so it holds whether
    there are 5 groups of a billion rows or a billion groups of 5: the
    cutoff table is |groups|·O(1) rows and joins back on the group key.
    Output: input columns + ``out_col`` (1-based rank ≤ cap), identical
    to the naive window's answer.
    """
    h = F.md5(F.col(id_col).cast("string"))
    pfx = F.substring(h, 1, 2)
    tagged = df.withColumn("_h", h).withColumn("_pfx", pfx)
    per = tagged.groupBy(group_col, "_pfx").agg(F.count("*").alias("_n"))
    cumw = (W.partitionBy(group_col).orderBy("_pfx")
             .rowsBetween(W.unboundedPreceding, W.currentRow))
    cuts = (per.withColumn("_cum", F.sum("_n").over(cumw))
               .filter(F.col("_cum") - F.col("_n") < cap)
               .groupBy(group_col).agg(F.max("_pfx").alias("_cut")))
    # null-SAFE equi-join: windows put NULL groups in their own
    # partition, so the cutoff join must match them too — a plain
    # equi-join would silently drop the whole NULL-group stratum
    # (the exact trap grouped_ntile's sentinel exists to prevent)
    cuts = cuts.withColumnRenamed(group_col, "_g")
    cand = (tagged.join(cuts, F.col(group_col).eqNullSafe(F.col("_g")))
                  .filter(F.col("_pfx") <= F.col("_cut")))
    rankw = W.partitionBy(group_col).orderBy(F.col("_h").asc(),
                                             F.col(id_col).asc())
    return (cand.withColumn(out_col, F.row_number().over(rankw))
                .filter(F.col(out_col) <= cap)
                .drop("_h", "_pfx", "_cut", "_g"))


def bucketed_quantile_pick(hist: DataFrame, group: str, val: str,
                           cnt: str, num: int, den: int, out: str,
                           n_buckets: int = 256) -> DataFrame:
    """Smallest ``val`` per ``group`` with ``den·cum ≥ num·tot`` — the
    repo's exact integer quantile rule — WITHOUT a per-group
    whole-value-domain window.  Single-fraction wrapper over
    ``bucketed_quantile_picks``; see there for the plan shape."""
    return bucketed_quantile_picks(hist, group, val, cnt,
                                   [(num, den, out)], n_buckets)


def bucketed_quantile_picks(hist: DataFrame, group: str, val: str,
                            cnt: str,
                            specs: list[tuple[int, int, str]],
                            n_buckets: int = 256) -> DataFrame:
    """N exact quantile picks per ``group`` from ONE shared chain:
    for each ``(num, den, out)`` in ``specs``, column ``out`` = the
    smallest ``val`` with ``den·cum ≥ num·tot`` — the repo's exact
    integer quantile rule — WITHOUT a per-group whole-value-domain
    window (r11: the q70/q72 windows funneled each group's entire
    distinct-cents domain through one task, the only >4× family in
    the sf1 scale proof).

    Two-LEVEL windows, fully declarative (no construction-time driver
    actions — a first draft collected bucket totals to the driver and
    paid 4 sequential jobs per pick):

    1. per-group ``(lo, hi, tot)`` — a tiny aggregate broadcast back;
    2. monotone fixed-width value buckets; per-(group, bucket)
       subtotals cumulate with a window whose input is ≤ n_buckets
       rows per group;
    3. the exact pick windows WITHIN each (group, bucket) partition
       (~domain/n_buckets cells per task) with the bucket offset
       making the local cumulative global.

    Monotone bucketing ⇒ offset + local-cum ≡ global cum, so each
    pick is bit-identical to the naive single-window formulation; and
    ``min(when(den·cum ≥ num·tot, v))`` ≡ ``filter + min`` (the last
    cell always satisfies the rule, so no pick is ever NULL).

    The multi-spec form exists because the histogram chain (range
    aggregate, bucket assignment + its localCheckpoint, offset window,
    in-bucket cumulative window) depends only on the histogram, NOT on
    the fraction — r17 measured that per-pick checkpoints of the
    identical ``wb`` block Catalyst's exchange reuse between picks, so
    N independent picks paid the whole chain N times (guide §1.2:
    don't compute things twice).  One chain + N conditional mins in
    ONE final aggregation serves every fraction."""
    base = hist.select(F.col(group).alias("g"), F.col(val).alias("v"),
                       F.col(cnt).alias("w"))
    rng = base.groupBy("g").agg(F.min("v").alias("lo"),
                                F.max("v").alias("hi"),
                                F.sum("w").alias("tot"))
    width = ((F.col("hi") - F.col("lo")) / n_buckets + 1).cast("long")
    # wb is consumed twice (offset subtotals + the final pick); the
    # checkpoint keeps the second pass off the source scan — measured
    # neutral at sf0.1 and ~15 % faster at sf1
    wb = materialize(
        base.join(F.broadcast(rng), "g")
            .withColumn("b", ((F.col("v") - F.col("lo")) / width)
                        .cast("long")),
        eager=False)
    w_off = (W.partitionBy("g").orderBy("b")
             .rowsBetween(W.unboundedPreceding, -1))
    offs = (wb.groupBy("g", "b").agg(F.sum("w").alias("bw"))
            .withColumn("off", F.coalesce(F.sum("bw").over(w_off),
                                          F.lit(0)))
            .select("g", "b", "off"))
    w_in = (W.partitionBy("g", "b").orderBy("v")
            .rowsBetween(W.unboundedPreceding, 0))
    cum = wb.join(F.broadcast(offs), ["g", "b"]) \
            .withColumn("cum", F.col("off") + F.sum("w").over(w_in))
    return (cum.groupBy(F.col("g").alias(group))
            .agg(*[F.min(F.when(den * F.col("cum") >= num * F.col("tot"),
                                F.col("v"))).alias(out)
                   for num, den, out in specs]))


def bucketed_running(df: DataFrame, value: str,
                     specs: list[tuple[str, "Column | str", str, bool]],
                     n_buckets: int = 256) -> DataFrame:
    """Running aggregates over the global ``value`` order WITHOUT a
    whole-domain single-partition window (r12 verdict task 2: the last
    four allowlisted funnels — KS/MWU CDF merges, the Pareto running
    max, the Kaplan–Meier risk set — all reduce to this shape).

    ``specs`` is a list of ``(out, col, kind, inclusive)``: add column
    ``out`` = the running ``kind`` ("sum" | "max") of ``col`` over rows
    ordered by ``value``, ending at the current row (inclusive=True) or
    the previous row (inclusive=False; sums coalesce to 0, maxes stay
    NULL on the global first row — matching the bare-window idiom
    ``coalesce(sum(...) over (... AND 1 PRECEDING), 0)``).

    Requirements: ``value`` is numeric, non-null, and UNIQUE per row
    (call on a ``groupBy(value)`` histogram — every call site here is
    one); ``col`` aggregates must be order-independent (integer/decimal
    sums, max) for bit-identical equivalence with the naive window.

    Fully declarative (no construction-time driver actions), three
    bounded stages:

    1. global ``(lo, hi)`` — one-row aggregate, broadcast back;
       monotone fixed-width buckets ``b = (value - lo) / width``;
    2. per-bucket subtotals (≤ n_buckets rows) get their exclusive
       offsets from a triangular self-join (≤ n_buckets² pairs through
       a broadcast — bounded by CONSTRUCTION, not by a value domain),
       so no window ever sees a single-partition exchange;
    3. the only windows are per-bucket (``partitionBy(b)``, ~domain /
       n_buckets rows per task): global running agg = offset ⊕ local.

    Monotone bucketing ⇒ offset ⊕ local ≡ global, and order-independent
    ⊕ ⇒ the result is bit-identical to the single-window formulation.
    """
    orig = df.columns
    rng = df.agg(F.min(value).alias("__lo"), F.max(value).alias("__hi"))
    width = ((F.col("__hi") - F.col("__lo")) / n_buckets + 1).cast("long")
    wb = materialize(
        df.crossJoin(F.broadcast(rng))            # 1-row scalar join
          .withColumn("__b", ((F.col(value) - F.col("__lo")) / width)
                      .cast("long"))
          .drop("__lo", "__hi"),
        eager=False)                              # consumed twice below

    def _agg(kind, col):
        return F.sum(col) if kind == "sum" else F.max(col)

    sub = wb.groupBy("__b").agg(*[
        _agg(kind, col).alias(f"__s_{out}")
        for out, col, kind, _ in specs])
    # exclusive per-bucket offsets WITHOUT a window: strictly-earlier
    # buckets via a triangular self-join (≤ n_buckets rows a side)
    offs = (sub.alias("L")
            .join(F.broadcast(sub.alias("R")),
                  F.col("R.__b") < F.col("L.__b"), "left")
            .groupBy(F.col("L.__b").alias("__b"))
            .agg(*[_agg(kind, f"R.__s_{out}").alias(f"__off_{out}")
                   for out, col, kind, _ in specs]))

    res = wb.join(F.broadcast(offs), "__b")
    sub_types = {f.name: f.dataType for f in sub.schema.fields}
    for out, col, kind, inclusive in specs:
        w = (W.partitionBy("__b").orderBy(value)
             .rowsBetween(W.unboundedPreceding, 0 if inclusive else -1))
        local = _agg(kind, col).over(w)
        off = F.col(f"__off_{out}")
        if kind == "sum":
            dt = sub_types[f"__s_{out}"]
            if isinstance(dt, DecimalType):
                # decimal(38,s) + decimal(38,s) needs precision 39 →
                # Spark silently drops the SCALE to fit (38,s−1), which
                # is exactly the last-digit loss the decimal canon
                # exists to prevent.  Cast operands to precision 37 so
                # the sum lands on (38,s) losslessly — running sums of
                # (p≤28,s) terms never approach 10^(37−s).
                tgt = DecimalType(37, dt.scale)
                local, off = local.cast(tgt), off.cast(tgt)
            # NULL-fill ONLY where NULL is legitimate, so a decimal
            # overflow (cast → NULL) stays VISIBLE instead of silently
            # becoming 0: the offset is NULL only for bucket 0 (the min
            # value maps there by construction, so every later bucket
            # has at least one earlier row), and an inclusive local sum
            # of non-null terms is never NULL.  Exclusive local sums
            # keep the coalesce (the first row of every bucket is a
            # legitimate NULL — same idiom as the naive window's
            # ``coalesce(sum(...) over (... 1 PRECEDING), 0)``).
            off = F.when(F.col("__b") == 0, F.lit(0)).otherwise(off)
            if not inclusive:
                local = F.coalesce(local, F.lit(0))
            expr = local + off
        else:                       # greatest() skips NULLs in Spark
            expr = F.greatest(local, off)
        res = res.withColumn(out, expr)
    return res.select(*orig, *[s[0] for s in specs])
