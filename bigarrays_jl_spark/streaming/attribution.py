"""Streaming multi-touch attribution: the stateful twin of
``operators.events.q76_attribution`` (builder extension, SURVEY §2C
round 10).

The batch operator splits every purchase's cents cent-exactly across
the user's views in the preceding 24 h (largest-remainder by recency).
In real ad-tech this allocation must happen AS purchases land — and it
needs the same watermark discipline as every ordered operator here:
a purchase can only be attributed once no earlier view can still
arrive (a late view inside its lookback would change the touch set
AND the remainder ranking).

Per user key the state holds the finalized VIEW touches still inside
any possible future lookback (sec > newest_finalized − 24 h; older
touches can never be seen again — pruned each trigger) plus the
pending events below the watermark split, exactly the cep.py
finalization shape.  Each trigger: merge, sort by (sec, event_id),
split at the watermark, walk the newly-final events in order — a view
joins the touch list; a purchase allocates against the CURRENT list
(views strictly earlier, within 24 h) with the batch operator's exact
largest-remainder arithmetic — and emit one row per (purchase, touch)
allocation.  Summed by channel these rows equal the batch operator
over the same prefix (pytest-pinned, multi-batch + timeout paths).

State bound: touches are capped by the 24 h window × per-user view
rate (the lookback IS the retention bound) + watermark-pending events;
purchases keep NO state once allocated.  The prune is watermark-based
(not newly-final-based) so it also runs on timeout invocations, and an
idle event-time TTL at newest-touch + 24 h removes quiet users' state
entirely — total state tracks users ACTIVE inside one lookback window,
not every user ever seen (r10 verdict task 7; same proof as cep.py:
an admissible future event has sec > watermark, so a touch older than
watermark − 24 h can never re-enter any purchase's lookback).
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from bigarrays_jl_spark.operators.events import ATTR_WINDOW_S

OUT_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("p_id", T.LongType()),
    T.StructField("channel", T.IntegerType()),
    T.StructField("alloc", T.LongType()),
])

STATE_SCHEMA = T.StructType([
    T.StructField("t_sec", T.ArrayType(T.LongType())),
    T.StructField("t_id", T.ArrayType(T.LongType())),
    T.StructField("t_ch", T.ArrayType(T.IntegerType())),
    T.StructField("pend_sec", T.ArrayType(T.LongType())),
    T.StructField("pend_id", T.ArrayType(T.LongType())),
    T.StructField("pend_kind", T.ArrayType(T.IntegerType())),
    T.StructField("pend_amt", T.ArrayType(T.LongType())),
])


def _allocate(cents, touches):
    """The batch operator's exact arithmetic: floor base + 1-cent
    bumps by recency rank (later sec first, then larger event_id)."""
    n_t = len(touches)
    base = cents // n_t
    rem = cents - base * n_t
    ranked = sorted(touches, key=lambda t: (-t[0], -t[1]))
    return [(tid, ch, base + (1 if r < rem else 0))
            for r, (sec, tid, ch) in enumerate(ranked)]


def _update(key, pdfs, state):
    import numpy as np
    import pandas as pd

    if state.exists:
        t_sec, t_id, t_ch, p_sec, p_id, p_kind, p_amt = state.get
        touches = list(zip(t_sec, t_id, t_ch))
        pend = list(zip(p_sec, p_id, p_kind, p_amt))
    else:
        touches, pend = [], []

    for pdf in pdfs:
        m = pdf["event_type"].isin(("view", "purchase"))
        if not m.any():
            continue
        pdf = pdf[m]
        secs = (pdf["ts"].astype("int64") // 1_000_000_000).tolist()
        kinds = (pdf["event_type"] == "purchase").astype("int32").tolist()
        # purchases carry cents; views carry their channel (props.k % 4).
        # HALF_UP like the batch F.round: ·100 = ·2²·5² CAN tie at .5
        # for a dyadic double (unlike the tie-free ·10⁶ quantization),
        # and np.rint would break ties to even where Spark rounds up
        cents = np.floor(pdf["value"].to_numpy(dtype="float64") * 100
                         + 0.5).astype("int64")
        ks = pdf["props"].str.extract(r'"k":\s*(\d+)', expand=False) \
            .fillna("0").astype("int64") % 4
        amt = np.where(np.array(kinds, dtype=bool), cents,
                       ks.to_numpy()).tolist()
        pend.extend(zip(secs, pdf["event_id"].tolist(), kinds, amt))

    wm_sec = state.getCurrentWatermarkMs() // 1000
    pend.sort()
    n_final = 0
    while n_final < len(pend) and pend[n_final][0] <= wm_sec:
        n_final += 1
    newly, pend = pend[:n_final], pend[n_final:]

    out = []
    for sec, eid, kind, amt in newly:
        if kind == 0:
            touches.append((sec, eid, int(amt)))
        else:
            eligible = [t for t in touches
                        if t[0] < sec and t[0] >= sec - ATTR_WINDOW_S]
            if eligible:
                for tid, ch, alloc in _allocate(int(amt), eligible):
                    out.append((key[0], eid, ch, alloc))
    # retention bound, watermark-based so it fires on TIMEOUT
    # invocations too (not just when this user has newly-final rows):
    # any event the engine still admits arrives with sec > wm_sec, so
    # its lookback floor sec − ATTR_WINDOW_S exceeds wm_sec −
    # ATTR_WINDOW_S — touches at or below that floor are provably
    # never eligible again and the allocation stream is unchanged by
    # dropping them (adversarial late views inside the window are the
    # watermark's contract: later than the delay ⇒ dropped upstream)
    touches = [t for t in touches if t[0] >= wm_sec - ATTR_WINDOW_S]

    if pend:
        state.setTimeoutTimestamp((pend[0][0] + 1) * 1000)
    elif touches:
        # idle TTL: wake when the watermark passes the newest touch's
        # eligibility horizon so a user who goes quiet self-evicts
        # instead of parking a 24 h touch list in state forever
        ttl_ms = (max(t[0] for t in touches) + ATTR_WINDOW_S + 1) * 1000
        if ttl_ms <= state.getCurrentWatermarkMs():
            touches = []
        else:
            state.setTimeoutTimestamp(ttl_ms)
    if not touches and not pend:
        state.remove()
    else:
        state.update(([t[0] for t in touches], [t[1] for t in touches],
                      [t[2] for t in touches],
                      [p[0] for p in pend], [p[1] for p in pend],
                      [p[2] for p in pend], [p[3] for p in pend]))
    if out:
        yield pd.DataFrame(out, columns=[f.name for f in OUT_SCHEMA])


def streaming_attribution(events: DataFrame,
                          watermark: str = "0 seconds") -> DataFrame:
    """Allocate purchase revenue across prior-24 h view touches on the
    live events stream, cent-exactly (largest remainder by recency).
    ``events`` must carry (user_id, event_id, event_type, ts, value,
    props); emits one (user_id, p_id, channel, alloc) row per
    allocation — grouped by channel these equal the batch
    ``q76_attribution`` over the same event prefix."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (events
            .select("user_id", "event_id", "event_type", "ts",
                    "value", "props")
            .withWatermark("ts", watermark)
            .groupBy("user_id")
            .applyInPandasWithState(_update, OUT_SCHEMA, STATE_SCHEMA,
                                    "append",
                                    GroupStateTimeout.EventTimeTimeout))
