"""Pipeline-operator semantics: decontamination, sequence packing,
global ids, deterministic sampling, mixture upsampling — plus the
shingle short-document guard these build on."""

import hashlib
import shutil
from collections import defaultdict

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from bigarrays_jl_spark.functions.expressions import shingle_array, tokens
from bigarrays_jl_spark.operators.dedup import (dedup_audit_pr,
                                                dedup_storage_savings)
from bigarrays_jl_spark.operators.extensions import CLS_BUCKETS
from bigarrays_jl_spark.operators.pipeline import (
    DECON_NGRAM, LEAK_N, MIX_WEIGHTS, PACK_BUDGET, cross_source_leakage,
    pipeline_decontaminate, pipeline_e2e_curate, pipeline_global_ids,
    pipeline_pack_sequences, quality_calibration, quality_filter_funnel,
    sample_stratified, sample_weighted_mix)
from bigarrays_jl_spark.operators.similarity import emb_outlier_zscore
from bigarrays_jl_spark.sources.tables import load


def test_shingle_array_short_doc_is_empty(spark):
    # regression: sequence(0, size-n) DESCENDS for short docs and
    # element_at(col, 0) throws — the guard must yield [] instead
    df = spark.createDataFrame([("a b",), ("a b c d e",)], ["text"])
    rows = (df.withColumn("t", tokens())
              .select(shingle_array("t", 4).alias("s"))
              .collect())
    assert sorted(r["s"] for r in rows) == [[], ["a b c d", "b c d e"]]


def test_decontaminate_flags_only_train_docs(spark, sf_dir):
    flagged = pipeline_decontaminate(spark, sf_dir).collect()
    assert flagged, "calibrated fixture must produce contamination hits"
    for r in flagged:
        assert r["doc_id"] % 10 != 0  # eval docs never flag themselves
        assert r["n_shared_ngrams"] >= 1


def test_pack_sequences_conserves_docs_and_tokens(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = d.count()
    n_tokens = d.select(F.sum(F.size(tokens())).alias("s")).first()["s"]
    bins = pipeline_pack_sequences(spark, sf_dir).collect()
    assert sum(r["n_docs"] for r in bins) == n_docs
    assert sum(r["bin_tokens"] for r in bins) == n_tokens
    # bins tile the token stream: ids are exactly 0..max with no holes
    ids = sorted(r["bin_id"] for r in bins)
    assert ids == list(range(len(ids)))
    # every bin start is budget-aligned, so a bin's docs can't span more
    # than (bin_tokens // PACK_BUDGET + 1) budget windows
    by_id = {r["bin_id"]: r for r in bins}
    for i in ids[:-1]:  # non-terminal bins reach the next boundary
        assert by_id[i]["last_doc"] < by_id[i + 1]["first_doc"]


def test_global_ids_match_builtin_row_number(spark, sf_dir):
    # the distributed two-phase rank must equal the single-partition
    # window answer exactly (which is fine to compute at test scale)
    got = {r["doc_id"]: r["global_id"]
           for r in pipeline_global_ids(spark, sf_dir).collect()}
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    want = {r["doc_id"]: r["rn"] for r in
            d.select("doc_id", F.row_number().over(
                W.orderBy("n_chars", "doc_id")).alias("rn")).collect()}
    assert got == want


def test_stratified_sample_is_deterministic_and_skewed(spark, sf_dir):
    a = sorted(r["doc_id"] for r in sample_stratified(spark, sf_dir).collect())
    b = sorted(r["doc_id"] for r in sample_stratified(spark, sf_dir).collect())
    assert a == b  # hash-based: rerun-stable, no RNG
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    totals = {r["lang"]: r["n"] for r in
              d.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    kept = {r["lang"]: r["n"] for r in
            sample_stratified(spark, sf_dir)
            .groupBy("lang").agg(F.count("*").alias("n")).collect()}
    # the head language is downsampled well below the tail's keep rate
    assert kept["en"] / totals["en"] < kept["de"] / totals["de"]


def test_weighted_mix_replicates_per_source(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    per_src = {r["source"]: r["n"] for r in
               d.groupBy("source").agg(F.count("*").alias("n")).collect()}
    expected = sum(MIX_WEIGHTS.get(s, 1) * n for s, n in per_src.items())
    mixed = sample_weighted_mix(spark, sf_dir)
    assert mixed.count() == expected
    copies = {r["source"]: r["c"] for r in
              mixed.groupBy("source").agg(
                  F.countDistinct("copy").alias("c")).collect()}
    assert copies["src0"] == MIX_WEIGHTS["src0"]
    assert copies["src5"] == 1
    # mix_id is unique across all replicas
    assert mixed.select("mix_id").distinct().count() == expected


def test_incremental_dedup_excludes_corpus_fingerprints(spark, sf_dir):
    from bigarrays_jl_spark.functions import fingerprint
    from bigarrays_jl_spark.operators.dedup import dedup_incremental
    from bigarrays_jl_spark.sources.tables import load
    out = dedup_incremental(spark, sf_dir).collect()
    assert out
    corpus_fp = {r["fp"] for r in
                 load(spark, sf_dir, "documents")
                 .filter(F.col("doc_id") % 5 != 4)
                 .select(fingerprint().alias("fp")).distinct().collect()}
    fps = [r["fp"] for r in out]
    assert len(fps) == len(set(fps))  # batch self-deduped
    for r in out:
        assert r["doc_id"] % 5 == 4  # survivors come from the batch only
        assert r["fp"] not in corpus_fp


def test_repetition_ratio_bounds(spark, sf_dir):
    from bigarrays_jl_spark.operators.text import text_repetition
    rows = text_repetition(spark, sf_dir).collect()
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert len(rows) == d.count()
    for r in rows:
        assert 0 < r["top_freq"] <= r["n_tok"]
        assert 0 < r["rep_ratio"] <= 1


def test_chunking_covers_every_document_exactly(spark, sf_dir):
    # invariants: chunks tile [1, len] with the configured overlap, the
    # last chunk reaches the end of the document, and no chunk is empty
    from bigarrays_jl_spark.operators.pipeline import (
        CHUNK_LEN, CHUNK_STRIDE, pipeline_chunk_documents)
    rows = pipeline_chunk_documents(spark, sf_dir).collect()
    lens = {r["doc_id"]: r["n_chars"] for r in
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "n_chars").collect()}
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(lens)
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r["chunk_idx"])
        n = lens[doc_id]
        for i, c in enumerate(chunks):
            assert c["chunk_idx"] == i
            assert c["start_pos"] == i * CHUNK_STRIDE + 1
            assert 0 < c["chunk_len"] <= CHUNK_LEN
        last = chunks[-1]
        # last chunk touches the end; one more stride would start past it
        assert last["start_pos"] + last["chunk_len"] - 1 == n
        assert last["start_pos"] + CHUNK_STRIDE > n


def test_ngram_jaccard_hot_shingle_cap_is_corpus_level(spark, tmp_path, monkeypatch):
    # A shingle above SHINGLE_DF_CAP must be excluded from BOTH the
    # shared count and the per-doc set sizes, and the document frequency
    # that triggers the cap is computed over the whole corpus — not the
    # LSH candidate subset — so a pair's score cannot depend on which
    # unrelated docs happened to collide in a band.
    from bigarrays_jl_spark.operators import dedup

    base = "hot common phrase t1 t2 t3 t4 t5 t6 t7"          # 10 tokens
    rows = [(1, base), (2, base + " t8")]                    # near-dup pair
    # six fillers all containing the hot shingle; none are near-dups of
    # the pair, and with the cap at 4 the shingle's corpus df (8) trips it
    rows += [(i + 3, f"hot common phrase u{i}a u{i}b") for i in range(6)]
    data = tmp_path / "hotcap"
    data.mkdir()
    spark.createDataFrame(rows, ["doc_id", "text"]).coalesce(1) \
        .write.parquet(str(data / "documents.parquet"))

    monkeypatch.setattr(dedup, "SHINGLE_DF_CAP", 4)
    got = {(r.doc_a, r.doc_b): r.jaccard
           for r in dedup.dedup_ngram_jaccard(spark, str(data)).collect()}
    # with the hot shingle dropped: 7 shared / (7 + 8 - 7) = 0.875;
    # keeping it (the candidate-relative bug) would report 8/9 = 0.8889
    assert got[(1, 2)] == pytest.approx(0.875)


def test_ngram_jaccard_recall_vs_full_oracle(spark, sf_dir):
    # Independent truth: ALL-pairs exact Jaccard in DuckDB (no LSH in
    # the oracle), so the LSH discovery stage is graded against
    # something it cannot influence.  At sf0.001 every true pair is a
    # mutant with J >= 0.87, where the 4-band config has ~99.96% per-pair
    # surfacing probability — measured recall is 1.0.
    import duckdb
    from bigarrays_jl_spark.operators.dedup import (_AUG_SQL, _SHINGLE_SQL,
                                                    dedup_ngram_jaccard)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{sf_dir}/documents.parquet'")
    truth = {(a, b): j for a, b, j in con.execute(f"""
        WITH aug AS ({_AUG_SQL}),
        {_SHINGLE_SQL},
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        shared AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT doc_a, doc_b,
               round(CAST(shared AS DOUBLE)/(sa.n_sh+sb.n_sh-shared), 4)
        FROM shared
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(shared AS DOUBLE)/(sa.n_sh+sb.n_sh-shared) >= 0.5
    """).fetchall()}
    got = {(r.doc_a, r.doc_b): r.jaccard
           for r in dedup_ngram_jaccard(spark, sf_dir).collect()}
    assert truth, "fixture must contain true near-dup pairs"
    false_pos = set(got) - set(truth)
    assert not false_pos, f"reported pairs absent from truth: {false_pos}"
    recall = sum(1 for p in truth if p in got) / len(truth)
    assert recall >= 0.95
    for p in got:
        assert got[p] == pytest.approx(truth[p], abs=1e-4)


def test_ngram_jaccard_borderline_pair_may_miss(spark, tmp_path):
    # Documents the LSH-verified semantics at the J=0.5 boundary: both
    # pairs below have EXACT Jaccard 0.5 (10 shared prefix tokens, 4
    # private tail tokens -> 8 shared / 16 union shingles), but only the
    # pair whose minhash signatures collide in a band is discovered.
    # Seeds chosen so the outcome is deterministic under the fixed hash
    # family: seed-0 tokens collide (pair reported), seed-2 tokens do
    # not (pair silently missed) — the documented ~32% miss rate at
    # J=0.5 for 4 bands x 2 rows.
    from bigarrays_jl_spark.operators.dedup import dedup_ngram_jaccard

    def doc(seed, tail):
        return " ".join([f"c{seed}x{i}" for i in range(10)]
                        + [f"{tail}{seed}x{i}" for i in range(4)])

    rows = [(1, doc(0, "a")), (2, doc(0, "b")),    # deterministic hit
            (3, doc(2, "a")), (4, doc(2, "b"))]    # deterministic miss
    data = tmp_path / "borderline"
    data.mkdir()
    spark.createDataFrame(rows, ["doc_id", "text"]).coalesce(1) \
        .write.parquet(str(data / "documents.parquet"))
    got = {(r.doc_a, r.doc_b): r.jaccard
           for r in dedup_ngram_jaccard(spark, str(data)).collect()}
    assert got == {(1, 2): pytest.approx(0.5)}


def test_temperature_mix_flattens_source_skew(spark, sf_dir):
    # temperature sampling must upsample rare sources harder than
    # dominant ones: post-mix shares sit strictly between the raw
    # shares and uniform, and every source keeps >= 1 epoch
    from bigarrays_jl_spark.operators.pipeline import sample_temperature_mix
    raw = {r.source: r.c for r in
           (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .groupBy("source").agg(F.count("*").alias("c")).collect())}
    mixed = {r.source: r.c for r in
             (sample_temperature_mix(spark, sf_dir)
              .groupBy("source").agg(F.count("*").alias("c")).collect())}
    assert set(mixed) == set(raw)
    n_raw, n_mix = sum(raw.values()), sum(mixed.values())
    smallest = min(raw, key=raw.get)
    largest = max(raw, key=raw.get)
    if raw[smallest] < raw[largest]:  # skew exists in the fixture
        boost = {s: (mixed[s] / n_mix) / (raw[s] / n_raw) for s in raw}
        assert boost[smallest] > boost[largest]
    for s in raw:
        assert mixed[s] >= raw[s]  # copies >= 1 epoch everywhere


def test_capped_by_hash_order_matches_naive_window(spark, sf_dir):
    # the skew-safe two-phase cap must return EXACTLY the naive
    # per-group window's answer — including on a skewed grouping
    # (event_type: 5 groups x ~hundreds of rows, cap far below size)
    from pyspark.sql import Window, functions as F

    from bigarrays_jl_spark.operators.ordering import capped_by_hash_order
    from bigarrays_jl_spark.sources.tables import load

    e = load(spark, sf_dir, "events").select("event_id", "event_type")
    got = capped_by_hash_order(e, "event_type", "event_id", 7) \
        .select("event_type", "event_id", "pick_order")
    h = F.md5(F.col("event_id").cast("string"))
    w = Window.partitionBy("event_type").orderBy(h.asc(),
                                                 F.col("event_id").asc())
    want = (e.withColumn("pick_order", F.row_number().over(w))
             .filter(F.col("pick_order") <= 7)
             .select("event_type", "event_id", "pick_order"))
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))
    # cap larger than the group: every row comes back
    small = e.limit(20)
    assert capped_by_hash_order(small, "event_type", "event_id",
                                10**6).count() == 20


def test_capped_by_hash_order_keeps_null_group(spark):
    # NULL groups form their own partition in the naive window; the
    # cutoff join must be null-SAFE or the whole NULL stratum vanishes
    from bigarrays_jl_spark.operators.ordering import capped_by_hash_order

    df = spark.createDataFrame(
        [(i, "a" if i % 3 == 0 else None) for i in range(30)],
        "id long, g string")
    got = capped_by_hash_order(df, "g", "id", 5)
    counts = {r.g: r.n for r in
              got.groupBy("g").agg(F.count("*").alias("n")).collect()}
    assert counts == {"a": 5, None: 5}, counts


def test_grouped_ntile_rejects_sentinel_collision_group(spark):
    # a group string literally equal to the internal NULL sentinel must
    # raise, not silently merge with the NULL group
    import pytest as _pytest

    from bigarrays_jl_spark.operators.ordering import grouped_ntile

    df = spark.createDataFrame(
        [("\x1fNULL", float(i), i) for i in range(10)],
        "g string, v double, t long")
    with _pytest.raises(ValueError, match="separator"):
        grouped_ntile(spark, df, 2, "g", "v", "t").collect()


def test_scratch_backed_queries_stable_on_reinvocation(spark, sf_dir):
    # volume_cutout_sum and layout_zorder_scan build PID-keyed scratch
    # state (sentinel-gated) on first call; a second call in the same
    # process must reuse it and return identical results — the repeat
    # pattern a grading harness or bench loop produces
    from bigarrays_jl_spark.operators.advanced import volume_cutout_sum
    from bigarrays_jl_spark.operators.extensions import layout_zorder_scan

    for fn in (volume_cutout_sum, layout_zorder_scan):
        first = sorted(map(tuple, fn(spark, sf_dir).collect()))
        second = sorted(map(tuple, fn(spark, sf_dir).collect()))
        assert first == second and len(first) > 0, fn.__name__


def test_cross_source_leakage_matches_python(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").select(
        "source", "text").collect()
    per: dict[str, set] = defaultdict(set)
    for r in docs:
        ws = r.text.split(" ")
        for i in range(len(ws) - (LEAK_N - 1)):
            per[r.source].add(" ".join(ws[i:i + LEAK_N]))
    want = {}
    srcs = sorted(per)
    for i, a in enumerate(srcs):
        for b in srcs[i + 1:]:
            inter = len(per[a] & per[b])
            if inter:
                want[(a, b)] = (inter,
                                inter / len(per[a] | per[b]))
    got = {(r.source_a, r.source_b): (r.n_shared, r.jaccard)
           for r in cross_source_leakage(spark, sf_dir).collect()}
    assert got == want and len(want) > 0


GOPHER_STOPWORDS = ("the", "a", "and", "of", "to", "in")


def test_quality_funnel_matches_python(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").select("text").collect()
    n = len(docs)
    s = [0, 0, 0, 0]
    for r in docs:
        ts = [t for t in r.text.split(" ") if t != ""]
        nw = len(ts)
        ok_w = 20 <= nw <= 1000
        mean_len = round(sum(len(t) for t in ts) / nw, 4) if nw else None
        ok_l = ok_w and mean_len is not None and 3 <= mean_len <= 10
        alpha = (round(sum(1 for t in ts if any(c.isalpha() for c in t))
                       / nw, 4) if nw else None)
        ok_a = ok_l and alpha is not None and alpha >= 0.8
        ok_s = ok_a and sum(1 for t in ts if t in GOPHER_STOPWORDS) >= 2
        for i, ok in enumerate((ok_w, ok_l, ok_a, ok_s)):
            s[i] += ok
    want = {(1, "word_count", n, s[0]),
            (2, "mean_word_len", s[0], s[1]),
            (3, "alpha_frac", s[1], s[2]),
            (4, "stopwords", s[2], s[3])}
    rows = quality_filter_funnel(spark, sf_dir).collect()
    got = {(r.stage, r.rule, r.n_in, r.n_out) for r in rows}
    assert got == want
    for r in rows:
        if r.n_in > 0:
            assert r.retained_frac == round(r.n_out / r.n_in, 6)
    # the cascade must actually funnel on this corpus (each stage keeps
    # at most what entered, and the corpus has some failures overall)
    assert s[3] <= s[0] <= n and s[3] < n


def test_round14_plan_shapes(spark, sf_dir):
    from bigarrays_jl_spark.plans.explain import (has_partial_aggregation,
                                                  simple_plan,
                                                  single_partition_windows,
                                                  uses_take_ordered)
    qf = quality_filter_funnel(spark, sf_dir)
    assert not single_partition_windows(qf)
    assert has_partial_aggregation(qf)

    eo = emb_outlier_zscore(spark, sf_dir)
    assert uses_take_ordered(eo)                  # top-20 heap, no sort
    assert not single_partition_windows(eo)
    plan = simple_plan(eo)
    # the 64-entry stats row must broadcast, not shuffle, onto vectors
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan

    ap = dedup_audit_pr(spark, sf_dir)
    assert not single_partition_windows(ap)
    assert "CartesianProduct" not in simple_plan(ap)


STOP = ("the", "a", "and", "of", "to", "in")


def _cls_score(text: str):
    import re
    ts = [t for t in re.split("[^a-z0-9]+", text.lower()) if t != ""]
    if not ts:
        return None
    raw_sum = 0
    for t in ts:
        w = (int(hashlib.md5(t.encode()).hexdigest()[:4], 16)
             % CLS_BUCKETS % 201 - 100)
        raw_sum += w
    raw = raw_sum / (100.0 * len(ts))
    return round(raw / (1 + abs(raw)), 6)


def _gopher_pass(text: str) -> bool:
    ts = [t for t in text.split(" ") if t != ""]
    n = len(ts)
    if not (20 <= n <= 1000):
        return False
    if not (3 <= round(sum(len(t) for t in ts) / n, 4) <= 10):
        return False
    if round(sum(1 for t in ts if any(c.isalpha() for c in t)) / n,
             4) < 0.8:
        return False
    return sum(1 for t in ts if t in STOP) >= 2


def test_quality_calibration_matches_python(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").select("text").collect()
    bins = defaultdict(lambda: [0, 0, 0])
    import math
    for r in docs:
        s = _cls_score(r.text)
        if s is None:
            continue
        b = math.floor(s * 10)
        bins[b][0] += 1
        bins[b][1] += _gopher_pass(r.text)
        bins[b][2] += round(s * 1e6)
    got = {r.score_bin: (r.n_docs, r.n_gopher_pass, r.pass_rate,
                         r.mean_score)
           for r in quality_calibration(spark, sf_dir).collect()}
    assert set(got) == set(bins) and len(got) > 1
    for b, (n, p, ssum) in bins.items():
        assert got[b] == (n, p, round(p / n, 6), ssum / (n * 1e6))


def test_round14d_plan_shapes(spark, sf_dir):
    from bigarrays_jl_spark.plans.explain import (has_partial_aggregation,
                                                  simple_plan,
                                                  single_partition_windows)
    qc = quality_calibration(spark, sf_dir)
    assert not single_partition_windows(qc)
    assert has_partial_aggregation(qc)
    ds = dedup_storage_savings(spark, sf_dir)
    assert not single_partition_windows(ds)
    assert "CartesianProduct" not in simple_plan(ds)


def _py_bloom_bit(j: int, s: str) -> int:
    from bigarrays_jl_spark.operators.pipeline import BLOOM_M
    return int(hashlib.md5(f"{j}:{s}".encode()).hexdigest()[:8],
               16) % BLOOM_M


def test_bloom_decontaminate_match_python(spark, sf_dir):
    from bigarrays_jl_spark.operators.pipeline import (BLOOM_K,
                                                       bloom_decontaminate)

    rows = load(spark, sf_dir, "documents").select("doc_id",
                                                   "text").collect()
    grams = {}
    for r in rows:
        t = r.text.strip().lower().split()
        grams[r.doc_id] = {" ".join(t[i:i + 8])
                           for i in range(len(t) - 7)}
    ev = set().union(*(g for d, g in grams.items() if d % 10 == 0),
                     set())
    bits = {(j, _py_bloom_bit(j, s)) for s in ev for j in range(BLOOM_K)}
    want = {}
    for d, g in grams.items():
        if d % 10 == 0:
            continue
        pos = sum(1 for s in g
                  if all((j, _py_bloom_bit(j, s)) in bits
                         for j in range(BLOOM_K)))
        exact = len(g & ev)
        if pos > 0:
            want[d] = (pos, exact, pos - exact)
    got = {r.doc_id: (r.n_bloom_pos, r.n_exact_shared, r.n_false_pos)
           for r in bloom_decontaminate(spark, sf_dir).collect()}
    assert got == want and len(got) > 0
    # the Bloom invariant: no false negatives, so per doc pos >= exact
    assert all(p >= e and fp == p - e >= 0
               for p, e, fp in got.values())


def test_streaming_bloom_screen_eval_first(spark, sf_dir, tmp_path):
    # eval set streams first (the decontamination norm), train docs
    # follow: the screen's snapshot equals the batch operator's
    # bloom-positive counts; replay is exactly-once on the output
    from bigarrays_jl_spark.operators.pipeline import bloom_decontaminate
    from bigarrays_jl_spark.streaming.bloom import (bloom_screen_snapshot,
                                                    streaming_bloom_screen)

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    src = str(tmp_path / "src")
    bits, out, ckpt = (str(tmp_path / p) for p in ("bits", "out", "ckpt"))
    d.filter(F.col("doc_id") % 10 == 0).coalesce(1).write.parquet(src)

    def run():
        q = streaming_bloom_screen(
            spark.readStream.schema(d.schema).parquet(src),
            bits, out, ckpt)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run()                                 # batch 0: eval seeds the bits
    # train docs land as two files -> (usually) one more micro-batch;
    # either way every train doc is screened against the full eval bits
    d.filter(F.col("doc_id") % 10 != 0).coalesce(1) \
        .write.mode("append").parquet(src)
    run()

    got = {(r.doc_id, r.n_bloom_pos)
           for r in bloom_screen_snapshot(spark, out).collect()}
    want = {(r.doc_id, r.n_bloom_pos)
            for r in bloom_decontaminate(spark, sf_dir).collect()}
    assert got == want and len(want) > 0

    # full replay as batch 0: bits anti-join + output guard keep both
    # tables exactly-once
    n_bits = spark.read.parquet(bits).count()
    n_out = spark.read.parquet(out).count()
    shutil.rmtree(ckpt)
    run()
    assert spark.read.parquet(bits).count() == n_bits, "bits duplicated"
    assert spark.read.parquet(out).count() == n_out, "screen duplicated"
    assert {(r.doc_id, r.n_bloom_pos)
            for r in bloom_screen_snapshot(spark, out).collect()} == want


def test_streaming_bloom_bits_union_across_shards(spark, sf_dir,
                                                  tmp_path):
    # the Bloom merge rule: two shards' bitsets union to the pooled
    # eval set's bitset exactly
    from bigarrays_jl_spark.streaming.bloom import (_bits_of, _doc_grams,
                                                    bloom_bits_union,
                                                    streaming_bloom_screen)

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    ev = d.filter(F.col("doc_id") % 10 == 0)
    want = {(r.j, r.bit) for r in _bits_of(_doc_grams(ev)).collect()}

    paths = []
    for shard in (0, 1):
        src = str(tmp_path / f"src{shard}")
        bits, out, ckpt = (str(tmp_path / f"{p}{shard}")
                           for p in ("bits", "out", "ckpt"))
        (ev.filter(F.floor(F.col("doc_id") / 10) % 2 == shard)
         .coalesce(1).write.parquet(src))
        q = streaming_bloom_screen(
            spark.readStream.schema(d.schema).parquet(src),
            bits, out, ckpt)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        paths.append(bits)

    got = {(r.j, r.bit)
           for r in bloom_bits_union(spark, paths).collect()}
    assert got == want and len(want) > 0


def _python_curate(docs):
    """The four stage canons composed in plain Python: Gopher gate ->
    exact dedup -> 8-gram decontamination vs the eval split -> pack."""
    import hashlib

    def gopher_pass(text):
        ts = [w for w in text.split(" ") if w != ""]
        n = len(ts)
        if n == 0:
            return False
        mean_len = round(sum(len(w) for w in ts) / n, 4)
        alpha = round(sum(1 for w in ts
                          if any(c.isascii() and c.isalpha() for c in w))
                      / n, 4)
        nstop = sum(1 for w in ts
                    if w in ("the", "a", "and", "of", "to", "in"))
        return (20 <= n <= 1000 and 3 <= mean_len <= 10
                and alpha >= 0.8 and nstop >= 2)

    def shingles(text):
        t = text.strip().lower().split()
        return {" ".join(t[i:i + DECON_NGRAM])
                for i in range(len(t) - DECON_NGRAM + 1)}

    ev = set()
    for doc_id, text in docs:
        if doc_id % 10 == 0:
            ev |= shingles(text)
    q = [(i, t) for i, t in docs if i % 10 != 0 and gopher_pass(t)]
    fams = {}
    for i, t in sorted(q):
        fams.setdefault(hashlib.md5(t.encode()).hexdigest(), i)
    keep = set(fams.values())
    surv = [(i, t) for i, t in q
            if i in keep and not (shingles(t) & ev)]
    cum, bins = 0, {}
    for i, t in sorted(surv):
        n_tok = len(t.strip().split())
        b = (cum) // PACK_BUDGET
        cum += n_tok
        r = bins.setdefault(b, [0, 0, i, i])
        r[0] += 1
        r[1] += n_tok
        r[3] = i
    return {b: tuple(v) for b, v in bins.items()}


def test_pipeline_e2e_curate_matches_python_composition(spark, sf_dir):
    docs = [(r["doc_id"], r["text"])
            for r in load(spark, sf_dir, "documents")
            .select("doc_id", "text").collect()]
    want = _python_curate(docs)
    got = {r["bin_id"]: (r["n_docs"], r["bin_tokens"],
                         r["first_doc"], r["last_doc"])
           for r in pipeline_e2e_curate(spark, sf_dir).collect()}
    assert got == want
    # the pipeline must actually curate: fewer docs than the corpus
    assert sum(v[0] for v in got.values()) < len(docs)


def test_pipeline_e2e_curate_plan_shape(spark, sf_dir):
    from bigarrays_jl_spark.operators.pipeline import _curated_survivors
    # stages 1-3 (the packer's eager prefix-sum checkpoint hides
    # upstream plans, so pin them on the survivor stage): the eval
    # bitset screen must broadcast and nothing may cartesian
    surv_plan = (_curated_survivors(spark, sf_dir)
                 ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in surv_plan
    assert "CartesianProduct" not in surv_plan
    assert "Exchange SinglePartition" not in surv_plan
    # the packed output itself must not funnel either (prefix-sum, not
    # a whole-table window)
    plan = (pipeline_e2e_curate(spark, sf_dir)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan


def test_temperature_mix_invariants(spark, sf_dir):
    from bigarrays_jl_spark.operators.pipeline import (
        MIX_BUDGET, pipeline_temperature_mix)
    rows = pipeline_temperature_mix(spark, sf_dir).collect()
    assert sum(r.alloc for r in rows) == MIX_BUDGET
    # T=2 flattens: the head language's weight drops below its raw
    # share, tail languages rise above theirs
    head = max(rows, key=lambda r: r.share)
    tail = min(rows, key=lambda r: r.share)
    assert head.weight < head.share
    assert tail.weight > tail.share
    # weights still order like shares (monotone transform)
    by_share = sorted(rows, key=lambda r: (r.share, r.lang))
    assert by_share == sorted(rows, key=lambda r: (r.weight, r.lang))


def test_temperature_mix_t1_is_proportional(spark, sf_dir):
    from bigarrays_jl_spark.operators.pipeline import pipeline_temperature_mix
    rows = pipeline_temperature_mix(spark, sf_dir, temperature=1.0) \
        .collect()
    for r in rows:
        assert abs(r.weight - r.share) < 1e-6, (r.lang, r.share, r.weight)


def test_temperature_mix_rejects_bad_temperature(spark, sf_dir):
    from bigarrays_jl_spark.operators.pipeline import pipeline_temperature_mix
    with pytest.raises(ValueError, match="positive"):
        pipeline_temperature_mix(spark, sf_dir, temperature=0)


def test_bloom_survivor_chain_matches_k_hit_rule(spark):
    """The chained-semi-probe screen == the explode+count k_hit == K
    rule, including a gram that hits only SOME of its K probes (a
    partial hit must NOT survive)."""
    from bigarrays_jl_spark.operators.pipeline import (BLOOM_K,
                                                       _bloom_survivors,
                                                       bloom_bit_col,
                                                       bloom_bit_lit,
                                                       bloom_screen_counts)
    grams = spark.createDataFrame(
        [(1, "aaa x"), (1, "bbb y"), (2, "ccc z"), (3, "aaa x")],
        "doc_id long, s string")
    # bitset = full K bits of 'aaa x' plus ONLY the j=0 bit of
    # 'bbb y' (a deliberate partial hit) — nothing for 'ccc z'
    jarr = F.array(*[F.lit(j) for j in range(BLOOM_K)])
    full = (grams.filter(F.col("s") == "aaa x")
            .select(F.explode(jarr).alias("j"), "s")
            .select("j", bloom_bit_col().alias("bit")))
    partial = (grams.filter(F.col("s") == "bbb y")
               .select(F.lit(0).alias("j"), "s")
               .select("j", bloom_bit_col().alias("bit")))
    bits = full.unionByName(partial).distinct()

    surv = {(r.doc_id, r.s)
            for r in _bloom_survivors(grams, bits).collect()}
    assert surv == {(1, "aaa x"), (3, "aaa x")}

    # the replaced definition, verbatim: explode K ways, count hits
    probe = (grams.select("doc_id", "s", F.explode(jarr).alias("j"))
             .select("doc_id", "s", "j", bloom_bit_col().alias("bit")))
    old = {(r.doc_id, r.s) for r in
           (probe.join(bits, ["j", "bit"])
            .groupBy("doc_id", "s").agg(F.count("*").alias("k"))
            .filter(F.col("k") == BLOOM_K)).collect()}
    assert surv == old

    counts = {r.doc_id: r.n_bloom_pos
              for r in bloom_screen_counts(grams, bits).collect()}
    assert counts == {1: 1, 3: 1}


def test_bloom_bit_lit_equals_bloom_bit_col(spark):
    """The literal-j probe hash must stay byte-identical to the
    exploded-j build hash for every j — the screen's correctness rests
    on both sides hashing the same string."""
    from bigarrays_jl_spark.operators.pipeline import (BLOOM_K, bloom_bit_col,
                                                       bloom_bit_lit)
    s = spark.createDataFrame([("some gram",), ("another 8 gram here",)],
                              "s string")
    rows = s.select(
        "s",
        *[bloom_bit_lit(j).alias(f"lit{j}") for j in range(BLOOM_K)],
    ).collect()
    built = (s.select(F.explode(F.array(
        *[F.lit(j) for j in range(BLOOM_K)])).alias("j"), "s")
        .select("s", "j", bloom_bit_col().alias("bit")).collect())
    want = {(r.s, r.j): r.bit for r in built}
    for r in rows:
        for j in range(BLOOM_K):
            assert getattr(r, f"lit{j}") == want[(r.s, j)]
