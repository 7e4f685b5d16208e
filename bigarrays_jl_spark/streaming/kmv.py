"""Streaming K-Minimum-Values distinct sketch: the stateful twin of
``operators.estimation.kmv_distinct_users`` (builder extension, SURVEY
§2C round 11).

The KMV sketch is the textbook case for streaming state bounds: per
event type the state is EXACTLY the k smallest 60-bit hash values seen
(k × 8 bytes, FOREVER — no watermark dependence, no growth), merged
per micro-batch.  The estimate after any stream prefix equals the
batch operator over the same prefix (pytest-pinned), because "the k
smallest of a union" is order-insensitive — unlike the ordered
operators (cep/runout/attribution) this needs NO watermark
finalization discipline at all, which is the point of sketches at
100 TB: commutative, idempotent-mergeable state.

Each trigger emits one row per type whose sketch changed:
(event_type, n_seen_hashes, kth_min, kmv_estimate).  The consumer's
current view is the latest row per type (kth_min is non-increasing,
so min(kth_min) per type is equivalently the freshest).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from bigarrays_jl_spark.operators.estimation import (HASH_BITS, KMV_K,
                                                     kmv_hash)

OUT_SCHEMA = T.StructType([
    T.StructField("event_type", T.StringType()),
    T.StructField("n_mins", T.IntegerType()),
    T.StructField("kth_min", T.LongType()),
    T.StructField("kmv_estimate", T.DoubleType()),
])

STATE_SCHEMA = T.StructType([
    T.StructField("mins", T.ArrayType(T.LongType())),
])


def _kmv_update(schema, last):
    """The per-type sketch update behind both KMV streams: fold the
    batch's distinct user hashes into the k smallest, and on a change
    emit ``(event_type, n_mins, kth_min, last(mins, kth))`` in
    ``schema``'s columns."""
    def update(key, pdfs, state):
        import pandas as pd

        mins = list(state.get[0]) if state.exists else []
        before = tuple(mins)
        uids = set()
        for pdf in pdfs:
            uids.update(int(u) for u in pdf["user_id"].unique())
        # hash each DISTINCT id once; the sketch ignores re-deliveries by
        # construction (set semantics), so replays are free idempotence
        mins = sorted(set(mins) | {kmv_hash(u) for u in uids})[:KMV_K]
        if not mins:
            return
        state.update((mins,))
        if tuple(mins) == before:
            return
        kth = mins[KMV_K - 1] if len(mins) >= KMV_K else None
        yield pd.DataFrame(
            [(key[0], len(mins), kth, last(mins, kth))],
            columns=[f.name for f in schema])
    return update


def _estimate(mins, kth):
    est = ((KMV_K - 1) / (kth / float(2 ** HASH_BITS))
           if kth is not None else float(len(mins)))
    return round(est, 4)


def streaming_kmv_distinct(events: DataFrame) -> DataFrame:
    """Maintain a per-type KMV distinct-user sketch on the live events
    stream.  No watermark needed: sketch state is commutative and
    bounded at k values per key by construction."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (events
            .select("event_type", "user_id")
            .groupBy("event_type")
            .applyInPandasWithState(_kmv_update(OUT_SCHEMA, _estimate),
                                    OUT_SCHEMA, STATE_SCHEMA, "append",
                                    GroupStateTimeout.NoTimeout))


# -- union mergeability (streaming twin of estimation.sketch_union_distinct) --

MINS_SCHEMA = T.StructType([
    T.StructField("event_type", T.StringType()),
    T.StructField("n_mins", T.IntegerType()),
    T.StructField("kth_min", T.LongType()),
    T.StructField("mins", T.ArrayType(T.LongType())),
])


def streaming_kmv_minima(events: DataFrame) -> DataFrame:
    """Like streaming_kmv_distinct but emits the full minima ARRAY on
    every change — the mergeable form: any downstream consumer can
    union sketches across keys without touching the raw stream (k
    smallest of a union = k smallest of the concatenated minima).
    State stays exactly k longs per key."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (events
            .select("event_type", "user_id")
            .groupBy("event_type")
            .applyInPandasWithState(
                _kmv_update(MINS_SCHEMA, lambda mins, kth: mins),
                MINS_SCHEMA, STATE_SCHEMA, "append",
                GroupStateTimeout.NoTimeout))


def kmv_union_snapshot(spark, sink_path: str) -> DataFrame:
    """Pairwise union estimates from the PERSISTED sketch stream — the
    streaming twin of estimation.sketch_union_distinct's estimate column,
    computable without the raw stream (that is the point of
    mergeability; the exact n_exact column inherently needs the full
    stream and has no sketch-only twin).

    Latest sketch per type: n_mins grows monotonically below k, and at
    k the kth_min strictly decreases on every change — so max n_mins
    then min kth_min picks the freshest row.  The per-type minima are
    ≤ k longs each; with |types| bounded this is a driver-side fold of
    a few KB, not a distributed join."""
    rows = spark.read.parquet(sink_path).collect()
    latest = {}
    for r in rows:
        cur = latest.get(r.event_type)
        cand = (r.n_mins, -(r.kth_min or 0))
        if cur is None or cand > (cur.n_mins, -(cur.kth_min or 0)):
            latest[r.event_type] = r
    out = []
    types = sorted(latest)
    for i, ta in enumerate(types):
        for tb in types[i + 1:]:
            merged = sorted(set(latest[ta].mins) | set(latest[tb].mins))
            if len(merged) >= KMV_K:
                est = (KMV_K - 1) / (merged[KMV_K - 1]
                                     / float(2 ** HASH_BITS))
            else:
                est = float(len(merged))
            out.append((ta, tb, round(est, 4)))
    return spark.createDataFrame(
        out, "type_a string, type_b string, kmv_estimate double")
