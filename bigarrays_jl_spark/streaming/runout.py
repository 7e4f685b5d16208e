"""Streaming clamped-inventory maintenance: the stateful twin of
``operators.events.q75_stock_runout`` (builder extension, SURVEY §2C
round 10).

The batch operator is a NON-associative per-user scan — b_n =
max(0, b_{n-1} + delta_n) — which is exactly the computation an
unbounded stream cannot re-derive from scratch each trigger: the
balance depends on every move ever seen, in order.  So the state IS
the answer: per user key ``applyInPandasWithState`` carries
(balance, n_moves, n_stockouts) plus the PENDING moves whose order the
watermark has not yet settled (the cep.py finalization discipline —
a move is only provably next once no earlier-timestamped move can
still arrive).

Each trigger: merge new click/purchase rows into pending, sort by the
(sec, event_id) total-order canon, split at the watermark, fold the
newly-final moves through the clamp recurrence, emit one snapshot row
(user_id, n_moves, n_stockouts, final_balance) when anything changed.
``n_moves`` is monotone, so the consumer's current view is the max-n
row per user — and after any prefix of the stream the snapshot equals
the batch operator run over the same prefix (pytest-pinned).

State bound: the rolled-up scalars are O(1) per user FOREVER by
default — unlike the CEP suffix there is no implied idle TTL, because
an inventory balance is permanent business state (the operator's
contract; at 100 TB the key cardinality is the SKU/user catalogue,
which is what RocksDB state via ``session.use_rocksdb_state`` is
for).  Pending moves are bounded by (watermark horizon × per-user
event rate), the package-wide bound.  An event-time timeout one
second past the oldest pending move finalizes quiet users without
requiring new rows.

Optional eviction (``idle_ttl_s``, r10 verdict task 7): when set,
a user whose last move is ``idle_ttl_s`` behind the watermark has its
state dropped.  Re-admission semantics — the emitted snapshot stream
is the durable record (max ``n_moves`` per user is always the current
truth, and the final pre-eviction snapshot was already emitted when
the last move finalized, so eviction loses NOTHING downstream); if
the user later reappears, the in-operator recurrence restarts from
balance 0, so enable the TTL only when the consumer restores evicted
balances from the snapshot sink (the lambda re-admission pattern) or
the domain treats long-idle inventory as re-initialized.  With the
TTL off (default) the batch-prefix equivalence holds unconditionally.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from bigarrays_jl_spark.operators.events import VQ

OUT_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("n_moves", T.LongType()),
    T.StructField("n_stockouts", T.LongType()),
    T.StructField("final_balance", T.LongType()),
])

STATE_SCHEMA = T.StructType([
    T.StructField("bal", T.LongType()),
    T.StructField("so", T.LongType()),
    T.StructField("n", T.LongType()),
    T.StructField("pend_sec", T.ArrayType(T.LongType())),
    T.StructField("pend_id", T.ArrayType(T.LongType())),
    T.StructField("pend_d", T.ArrayType(T.LongType())),
])

_MOVE_TYPES = ("click", "purchase")

STATE_SCHEMA_TTL = T.StructType(
    STATE_SCHEMA.fields + [T.StructField("last_sec", T.LongType())])


def _update(key, pdfs, state, idle_ttl_s=None):
    import numpy as np
    import pandas as pd

    last_sec = 0
    if state.exists:
        if idle_ttl_s is None:
            bal, so, n, pend_sec, pend_id, pend_d = state.get
        else:
            bal, so, n, pend_sec, pend_id, pend_d, last_sec = state.get
        pend = list(zip(pend_sec, pend_id, pend_d))
    else:
        bal, so, n, pend = 0, 0, 0, []

    for pdf in pdfs:
        m = pdf["event_type"].isin(_MOVE_TYPES)
        if not m.any():
            continue
        pdf = pdf[m]
        secs = pdf["ts"].astype("int64") // 1_000_000_000
        # tie-free 1e-6 fixed point (dyadic double * 10^6 can't land
        # on .5): np.rint == the batch side's F.round here
        d = np.rint(pdf["value"].to_numpy(dtype="float64") * VQ) \
              .astype("int64")
        d = np.where(pdf["event_type"].to_numpy() == "purchase", -d, d)
        pend.extend(zip(secs.tolist(), pdf["event_id"].tolist(),
                        d.tolist()))

    wm_sec = state.getCurrentWatermarkMs() // 1000
    pend.sort()
    n_final = 0
    while n_final < len(pend) and pend[n_final][0] <= wm_sec:
        n_final += 1
    newly, pend = pend[:n_final], pend[n_final:]

    for _, _, d in newly:
        nb = bal + d
        if nb < 0:
            so += 1
            nb = 0
        bal = nb
    n += len(newly)

    if newly:
        last_sec = max(last_sec, newly[-1][0])

    if pend:
        state.setTimeoutTimestamp((pend[0][0] + 1) * 1000)
    elif idle_ttl_s is not None and (n > 0 or state.exists):
        # optional quiet-user eviction: the snapshot at last_sec was
        # already emitted, so dropping the state loses nothing the
        # consumer hasn't seen (re-admission contract in the module
        # docstring)
        ttl_ms = (last_sec + idle_ttl_s) * 1000
        if ttl_ms <= state.getCurrentWatermarkMs():
            if state.exists:
                state.remove()
            if newly:
                yield pd.DataFrame([(key[0], n, so, bal)],
                                   columns=[f.name for f in OUT_SCHEMA])
            return
        state.setTimeoutTimestamp(ttl_ms)
    if not pend and not newly and not state.exists:
        # sentinel/noop-only key: nothing to carry
        return
    row = (bal, so, n, [p[0] for p in pend], [p[1] for p in pend],
           [p[2] for p in pend])
    state.update(row if idle_ttl_s is None else row + (last_sec,))
    if newly:
        yield pd.DataFrame([(key[0], n, so, bal)],
                           columns=[f.name for f in OUT_SCHEMA])


def streaming_stock_runout(events: DataFrame,
                           watermark: str = "0 seconds",
                           idle_ttl_s: int | None = None) -> DataFrame:
    """Maintain per-user clamped inventory balances on the live events
    stream.  ``events`` must carry (user_id, event_id, event_type, ts,
    value); emits a monotone snapshot row per user per trigger that
    changed it — max(n_moves) per user is the current state and equals
    the batch ``q75_stock_runout`` over the same event prefix.

    ``idle_ttl_s``: optionally evict users idle that long past the
    watermark (state then tracks ACTIVE keys only); see the module
    docstring for the re-admission contract this trades away."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        yield from _update(key, pdfs, state, idle_ttl_s)

    schema = STATE_SCHEMA if idle_ttl_s is None else STATE_SCHEMA_TTL
    return (events
            .select("user_id", "event_id", "event_type", "ts", "value")
            .withWatermark("ts", watermark)
            .groupBy("user_id")
            .applyInPandasWithState(update, OUT_SCHEMA, schema,
                                    "append",
                                    GroupStateTimeout.EventTimeTimeout))
