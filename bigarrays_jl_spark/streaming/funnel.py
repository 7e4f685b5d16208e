"""Streaming twin of ``operators.events.day_funnel_conversion``.

A strict-order funnel is ORDERED state: "first click after the first
view" cannot be folded incrementally under out-of-order arrival — a
later-arriving earlier view can validate a click that looked too early
(the same reason the CEP module buffers until the watermark settles
order).  But the funnel needs far less than an event buffer; per
(user_id, day) key the state is exactly:

  - ``min_view``  — only the smallest view matters, and a min is
    arrival-order-proof;
  - ``clicks``    — every click second must be kept until the day
    closes (a click below the CURRENT min view may still exceed the
    FINAL min view, which only decreases);
  - ``max_purchase`` — "any purchase after X" ⇔ "max purchase > X";
  - ``seen``      — the key had SOME event (the funnel's denominator
    counts all user-days, not just ones that reached a step).

One row per user-day emits at the event-time timeout — armed one
second past the day end, firing when the watermark proves the day
complete — and the state frees: the store holds only OPEN user-days
within the watermark horizon.  Late events beyond the watermark drop,
like every twin here.  tests/test_streaming_funnel.py pins the
per-DOW rollup == the batch operator after any finalized prefix.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

OUT_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("day", T.LongType()),
    T.StructField("reached_view", T.IntegerType()),
    T.StructField("reached_click", T.IntegerType()),
    T.StructField("converted", T.IntegerType()),
])

STATE_SCHEMA = T.StructType([
    T.StructField("min_view", T.LongType()),
    T.StructField("clicks", T.ArrayType(T.LongType())),
    T.StructField("max_purchase", T.LongType()),
])


def _update(key, pdfs, state):
    import pandas as pd

    # key elements arrive as numpy scalars; the state/timeout plumbing
    # JSON-serializes them, so normalize to python ints up front
    user_id, day = int(key[0]), int(key[1])
    if state.hasTimedOut:
        min_view, clicks, max_purchase = state.get
        fv = int(min_view is not None and min_view >= 0)
        fc = 0
        conv = 0
        if fv:
            later = [c for c in (clicks or []) if c > min_view]
            if later:
                fc = 1
                first_click = min(later)
                if max_purchase is not None and max_purchase > first_click:
                    conv = 1
        state.remove()
        yield pd.DataFrame([(user_id, day, fv, fc, conv)],
                           columns=[f.name for f in OUT_SCHEMA])
        return

    if state.exists:
        min_view, clicks, max_purchase = state.get
        clicks = list(clicks or [])
    else:
        min_view, clicks, max_purchase = None, [], None
    if min_view is not None and min_view < 0:
        min_view = None                     # -1 sentinel = no view yet

    for pdf in pdfs:
        secs = pdf["ts"].astype("int64") // 1_000_000_000
        for sec, et in zip(secs.tolist(), pdf["event_type"].tolist()):
            if et == "view":
                if min_view is None or sec < min_view:
                    min_view = sec
            elif et == "click":
                clicks.append(sec)
            elif et == "purchase":
                if max_purchase is None or sec > max_purchase:
                    max_purchase = sec
    # nullable long columns round-trip poorly through the state store;
    # encode "no view" as -1 (secs are non-negative epoch seconds)
    state.update((min_view if min_view is not None else -1,
                  clicks, max_purchase if max_purchase is not None else -1))
    # finalize when the watermark passes the end of this calendar day
    state.setTimeoutTimestamp((day * 86400 + 86400) * 1000)
    return


def streaming_day_funnel(events: DataFrame,
                         watermark: str = "1 hour") -> DataFrame:
    """Per-(user, day) funnel rows, emitted once per user-day when the
    watermark closes the day."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    keyed = (events
             .withColumn("fts", F.col("ts").cast("long").cast("timestamp"))
             .withWatermark("fts", watermark)
             .withColumn("day", F.floor(F.col("ts").cast("long") / 86400)
                         .cast("bigint")))
    return (keyed.groupBy("user_id", "day")
            .applyInPandasWithState(_update, OUT_SCHEMA, STATE_SCHEMA,
                                    "append",
                                    GroupStateTimeout.EventTimeTimeout))


def day_funnel_snapshot(spark: SparkSession, sink_path: str) -> DataFrame:
    """The batch operator's per-DOW rollup over everything finalized so
    far (sentinel users with negative ids excluded)."""
    rows = spark.read.parquet(sink_path).filter(F.col("user_id") >= 0)
    dow = (F.col("day") % 7).cast("int")
    return (rows.groupBy(dow.alias("dow"))
            .agg(F.count("*").cast("bigint").alias("n_user_days"),
                 F.sum("reached_view").cast("bigint")
                  .alias("n_reached_view"),
                 F.sum("reached_click").cast("bigint")
                  .alias("n_reached_click"),
                 F.sum("converted").cast("bigint").alias("n_converted"))
            .withColumn("rate", F.round(
                F.col("n_converted").cast("double")
                / F.col("n_user_days").cast("double"), 6)))
