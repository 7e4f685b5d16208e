"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line:  {"metric": ..., "value": N, "unit": "sec", "queries": {...},
"sf": ...}.

Also reports cutout/ingest MB/s for the chunked-volume engine — the same
instrumentation points the reference prints (src/modes/sequential.jl:62-63).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q01_pricing_summary", "q03_join_revenue", "q07_window_rank",
    "q09_rollup", "q13_distinct_agg", "q22_range_join",
    "dedup_exact", "dedup_minhash_pairs", "dedup_embedding_cosine",
    "text_quality", "ann_cosine_topk", "ann_ivf_topk", "sim_lsh_pairs",
    "events_sessionize", "mm_byte_features", "mm_frame_sample",
]

# HEADLINE is FROZEN for cross-round comparability; SECONDARY tracks the
# strongest round-7+ additions so a perf regression in the new operator
# families shows up in the per-round artifact.  Reported as its own
# block ("secondary" / "secondary_total") — append here freely, never
# touch HEADLINE.
SECONDARY = [
    "q47_region_supplier_volume", "q48_nation_trade_flows",
    "q49_market_share", "q50_min_cost_supplier", "q52_large_orders",
    "q53_important_parts", "graph_pagerank", "graph_pagerank_lsh",
    "events_gapfill", "text_bm25", "fuzzy_name_pairs",
    "pipeline_apply_changes", "volume_histogram", "volume_label_sizes",
    "events_pattern_match", "events_absence_match",
    "q55_order_count_dist", "q56_bracket_revenue",
    "q57_excess_stock_suppliers", "volume_components",
    "events_kleene_match",
    "q60_profit_by_nation_year", "q61_supplier_part_counts",
    "q62_hierarchy_depth", "q63_interval_concurrency",
    "q64_weighted_median",
    "graph_hops_lsh", "basket_pairs", "set_sim_join",
    "dq_audit", "text_corpus_divergence",
    "scd2_history", "phrase_search", "emb_covariance",
    "scd2_point_in_time",
    "q65_pareto_frontier", "q66_allocation", "q68_cusum",
    "volume_rag",
    "q69_interval_coverage", "q70_mad_outliers",
    "volume_agglomerate",
    "q71_quantile_screen", "q72_winsorized_mean",
    "q73_ema_decay", "graph_sssp_lsh", "q75_stock_runout",
    "q76_attribution", "q77_regression_slope",
    "q78_kanonymity", "retrieval_rrf_hybrid", "q79_mutual_info",
    "volume_label_moments",
    "graph_lpa_lsh", "q80_welch_ttest", "q81_cuped", "volume_roi_stats",
    "entity_res_golden", "q82_gini", "q83_seasonal_backtest",
    "volume_equalized_histogram", "q84_rfm_segments", "q85_qq_drift",
    "q86_kaplan_meier", "q87_autocorr", "q88_cohort_ltv",
    "volume_slice_qc", "volume_slice_ncc",
    "q89_stratified_effect", "q90_benford", "q91_dow_seasonality",
    "q92_priority_count", "q93_revenue_delta", "q94_returned_item_top20",
    "q95_priority_by_class", "q96_promo_share",
    "chi2_type_dow", "sample_weighted_exact", "interval_overlap_join",
    "volume_stencil_smooth", "ks_two_sample", "wilson_error_ci",
    "theil_sen_slope", "mann_whitney_u", "events_twap",
    "kmv_distinct_users", "markov_backtest", "text_zipf_fit",
    "type_corr_matrix", "fk_reconciliation", "q97_share_of_parent",
    "sketch_union_distinct", "text_tfidf_topk", "q98_fano_burstiness",
    "day_funnel_conversion", "volume_label_surface", "text_paragraph_dedup",
    "user_erasure_audit", "leadtime_quantiles", "basket_triples",
    "q99_t_closeness", "sketch_jaccard",
    "lorenz_curve", "ngram_novelty", "cross_source_leakage",
    "dedup_cluster_hist", "session_bounce_rate", "customer_reorder_gaps",
    "boilerplate_prefixes",
    "quality_filter_funnel", "dedup_audit_pr", "emb_outlier_zscore",
    "retrieval_mmr_rerank", "ann_recall_audit", "events_hdr_quantiles",
    "quality_calibration", "dedup_storage_savings",
    # r15 additions
    "events_hdr_merge", "cm_heavyhitters", "bloom_decontaminate",
    # r16 additions
    "pipeline_e2e_curate", "mm_decode_audio", "ann_ivfpq_recall_audit",
    "mm_decode_video",
    # r17 additions
    "ann_pq_recall_knee", "dedup_span_excise", "pipeline_temperature_mix",
]


def run_volume_bench(spark) -> dict[str, float]:
    """Cutout/ingest MB/s on a 256×256×1280 uint8 volume (≈84 MB),
    matching the reference's larger BinDicts workload scale — 200×200×2000
    ≈ 80 MB (test/BinDicts.jl:61)."""
    import numpy as np
    from bigarrays_jl_spark.infos import Info
    from bigarrays_jl_spark.volume import Volume

    info = Info.from_dict({
        "num_channels": 1, "type": "image", "data_type": "uint8",
        "scales": [{"encoding": "gzip", "chunk_sizes": [[64, 64, 64]],
                    "key": "1_1_1", "resolution": [1, 1, 1],
                    "voxel_offset": [0, 0, 0], "size": [256, 256, 1280]}]})
    with tempfile.TemporaryDirectory() as td:
        # warm the write/read code paths (JVM codegen + python codec
        # workers) on a throwaway volume so the measurement below is
        # steady-state throughput, matching the reference's MB/s
        # instrumentation of a long-lived process
        warm = Volume.create(spark, td + "/warm", info)
        wa = np.zeros((64, 64, 64), dtype=np.uint8)
        warm.write(wa, (0, 0, 0))
        warm.cutout(((0, 64), (0, 64), (0, 64)))

        vol = Volume.create(spark, td + "/vol", info)
        arr = np.random.default_rng(42).integers(
            0, 256, size=(256, 256, 1280), dtype=np.uint8)
        mb = arr.nbytes / 1e6
        t0 = time.time()
        vol.write(arr, (0, 0, 0))
        w = time.time() - t0
        t0 = time.time()
        out, _ = vol.cutout(((0, 256), (0, 256), (0, 1280)))
        r = time.time() - t0
        assert (out == arr).all()
        return {"ingest_mb_s": round(mb / w, 2), "cutout_mb_s": round(mb / r, 2)}


def run_volume_distributed_bench(spark) -> dict[str, float]:
    """MB/s for the DISTRIBUTED volume paths on a ~537 MB volume:
    ingest_chunks (bulk write — payload generation and codec encode run
    in executors, nothing on the driver) and voxels() (decode → exploded
    relational read, aggregated distributed).  These are the 100 TB
    paths; the driver-array bench above is the API-parity path.

    Sized ≥512 MB since r15 (was 84 MB): at 84 MB the pure scan leg
    finished in ~90 ms, so fixed per-job overhead halved the reported
    MB/s (the same bias r14's verdict flagged in the floor probe) —
    dist_scan read ~900 when back-to-back larger scans read ~1300.  At
    537 MB every leg runs long enough that job overhead is <20% of the
    measurement, and dist_scan agrees with the (equally-sized) floor
    probe, which is the artifact's calibration check."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F
    from bigarrays_jl_spark import indexes as ix
    from bigarrays_jl_spark.infos import Info
    from bigarrays_jl_spark.volume import Volume

    info = Info.from_dict({
        "num_channels": 1, "type": "image", "data_type": "uint8",
        "scales": [{"encoding": "gzip", "chunk_sizes": [[64, 64, 64]],
                    "key": "1_1_1", "resolution": [1, 1, 1],
                    "voxel_offset": [0, 0, 0], "size": [256, 256, 8192]}]})
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    with tempfile.TemporaryDirectory() as td:
        # steady-state warm-up on a throwaway 2-chunk volume: pays the
        # one-time python-worker spinup + codegen for the ingest/read
        # plans so the measurement below is throughput, not JVM warmup
        winfo = Info.from_dict({
            "num_channels": 1, "type": "image", "data_type": "uint8",
            "scales": [{"encoding": "gzip", "chunk_sizes": [[64, 64, 64]],
                        "key": "1_1_1", "resolution": [1, 1, 1],
                        "voxel_offset": [0, 0, 0], "size": [128, 64, 64]}]})
        wvol = Volume.create(spark, td + "/dwarm", winfo)
        wdf = spark.createDataFrame(
            [(0, 0, 0, "0-64_0-64_0-64", bytes(64 * 64 * 64)),
             (1, 0, 0, "64-128_0-64_0-64", bytes(64 * 64 * 64))],
            "cx int, cy int, cz int, key string, payload binary")
        wvol.ingest_chunks(wdf)
        wvol.voxels().agg(F.count("*")).collect()

        vol = Volume.create(spark, td + "/dvol", info)
        sc_ = vol.scale
        meta = []
        for cs in ix.iter_chunk_slices(((0, 256), (0, 256), (0, 8192)),
                                       sc_.voxel_offset, sc_.volume_size,
                                       sc_.chunk_size):
            shape = [hi - lo for lo, hi in cs.cutout_box]
            meta.append((cs.cid[0], cs.cid[1], cs.cid[2], cs.key,
                         shape[0], shape[1], shape[2]))
        mb = sum(sx * sy * sz for *_, sx, sy, sz in meta) / 1e6
        mdf = spark.createDataFrame(
            meta, "cx int, cy int, cz int, key string, sx int, sy int, sz int"
        ).repartition(cpus)

        def gen(batches):
            for pdf in batches:
                payloads = [
                    np.random.default_rng(r.cx * 10007 + r.cy * 101 + r.cz)
                    .integers(0, 256, size=r.sx * r.sy * r.sz, dtype=np.uint8)
                    .tobytes()
                    for r in pdf.itertuples()]
                yield pd.DataFrame({"cx": pdf.cx, "cy": pdf.cy, "cz": pdf.cz,
                                    "key": pdf.key, "payload": payloads})

        # materialize the synthetic payloads to a scratch parquet BEFORE
        # the clock: the timed ingest should measure the ingest path
        # (scan staged chunks → executor-side codec encode → chunk-store
        # write), not the in-band random-bytes fabrication above.  The
        # staged table is read once pre-clock to warm the page cache,
        # mirroring a real pipeline whose source parquet is already hot.
        staged_path = td + "/staged_chunks"
        mdf.mapInPandas(
            gen, schema="cx int, cy int, cz int, key string, payload binary"
        ).write.mode("overwrite").parquet(staged_path)
        staged = spark.read.parquet(staged_path)
        # warm the PAYLOAD pages, not just footers: a bare count() over
        # parquet reads row-group metadata only, so it would warm
        # nothing — summing payload lengths forces the binary column
        # through the page cache
        staged.agg(F.sum(F.length("payload"))).collect()
        # scan-only throughput of the (now warm) staged table: the floor
        # of what ANY ingest over this source can achieve.  Reported so
        # a VM-contention window is self-evident in the artifact — if
        # dist_scan is itself far below nominal disk/page-cache speed,
        # a low dist_ingest number is environmental, not a plan problem.
        t0 = time.time()
        staged.agg(F.sum(F.length("payload"))).collect()
        s = time.time() - t0
        t0 = time.time()
        vol.ingest_chunks(staged)
        w = time.time() - t0
        t0 = time.time()
        total = vol.voxels().agg(F.sum("value").alias("s")).collect()[0].s
        r = time.time() - t0
        assert total > 0
        # the same aggregation after an explicit select("value"):
        # voxels() derives its coordinates as Catalyst expressions, so
        # both reads already skip them; the key is kept so artifacts
        # stay comparable with rounds that had a map-side column
        # argument for this.
        t0 = time.time()
        total_p = (vol.voxels().select("value")
                   .agg(F.sum("value").alias("s")).collect()[0].s)
        rp = time.time() - t0
        assert total_p == total
        return {"dist_scan_mb_s": round(mb / s, 2),
                "dist_ingest_mb_s": round(mb / w, 2),
                "dist_read_mb_s": round(mb / r, 2),
                "dist_read_pruned_mb_s": round(mb / rp, 2)}


def stage_scan_probe(spark, td: str):
    """Stage an ~524 MB binary-payload parquet (same shape as the
    dist_scan table: 64³-byte payload rows) and warm its pages; returns
    (df, mb).  The scan of this table is the contention PROBE — a pure
    warm parquet scan with zero engine code, so its MB/s measures the
    VM, not the plans.

    Sizing (r14 verdict task 1): the r14 probe was 84 MB over 32 tasks,
    so the ~100–150 ms fixed per-job overhead was comparable to the
    scan itself and the probe read systematically ~2× BELOW the same
    run's dist_scan (348 vs 882; 452 vs 968 in the two r14 artifacts),
    making headline_normalized ~2× flattering.  At ≥512 MB the scan is
    ≥0.5 s at nominal floor, so job overhead is <20% instead of ~50%;
    the artifact carries floor_vs_dist_scan as the calibration check
    (probe median / same-run best-of-3 dist_scan — healthy ≈ within
    ~15% of 1.0)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n = 2000                                  # 2000 × 64³ B ≈ 524 MB
    mdf = spark.range(n).repartition(cpus)

    def gen(batches):
        for pdf in batches:
            payloads = [np.random.default_rng(int(i))
                        .integers(0, 256, size=64 * 64 * 64, dtype=np.uint8)
                        .tobytes() for i in pdf["id"]]
            yield pd.DataFrame({"id": pdf["id"], "payload": payloads})

    path = td + "/scan_probe"
    mdf.mapInPandas(gen, schema="id long, payload binary") \
        .write.mode("overwrite").parquet(path)
    # flush the ~524 MB of dirty pages NOW: the kernel's background
    # writeback of the just-written probe table otherwise contends
    # with the first few query batches AND the first probe samples —
    # the r16 shakedown run read 870-1090 MB/s for the first third of
    # the window and 1750 after, tripping the noisy-window flag on
    # bench-self-inflicted IO rather than external contention
    os.sync()
    df = spark.read.parquet(path)
    # warm the PAYLOAD pages (footer-only count warms nothing)
    df.agg(F.sum(F.length("payload"))).collect()
    return df, n * 64 * 64 * 64 / 1e6


def scan_probe_mb_s(probe_df, mb: float) -> float:
    """One probe sample = best of three back-to-back scans, after a
    forced JVM GC: the probe must measure the VM (its role is to
    detect host contention windows), not the garbage debt the
    preceding query block happens to have left — and it is compared
    against a best-of-3 dist_scan (the calibration check), so a single
    scan — which one GC pause can halve — would be systematically
    pessimistic in exactly the way the r14 probe was."""
    from pyspark.sql import functions as F
    probe_df.sparkSession._jvm.System.gc()
    best = None
    for _ in range(3):
        t0 = time.time()
        probe_df.agg(F.sum(F.length("payload"))).collect()
        dt = time.time() - t0
        best = dt if best is None or dt < best else best
    return round(mb / best, 2)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from bigarrays_jl_spark.operators import ALL_QUERIES
    from bigarrays_jl_spark.session import get_spark

    spark = get_spark("bench")
    # warm the JVM + parquet footers + python UDF workers once (executor
    # python workers are long-lived on a real cluster; their one-time
    # interpreter spinup isn't query cost)
    warm_df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    warm_df.count()
    warm_df.limit(64).repartition(int(os.environ.get("SPARK_GRAFT_CPUS", "32"))) \
        .mapInPandas(lambda it: it, schema=warm_df.schema).count()

    # steady-state timing: each query runs twice and reports the faster
    # run — executor JITs, broadcast builds, and OS page cache are warm
    # on a long-lived cluster, and single-shot numbers at this scale are
    # dominated by first-run compile/GC noise (observed ±5× on identical
    # code in this container)
    # iterative/variance-prone families get best-of-3 (r12 verdict task
    # 1: the artifact of record carried a 4× single-sample GC/JIT
    # outlier on volume_agglomerate — 10.27 s vs 2.98 s in the same
    # round — indistinguishable from a plan regression at best-of-2);
    # the driver-array volume bench below is already best-of-3
    VARIANCE_PRONE = ("volume_", "graph_")

    def time_queries(names: list[str], reps: int
                     ) -> tuple[dict[str, float], dict[str, list[float]]]:
        timings: dict[str, float] = {}
        samples: dict[str, list[float]] = {}
        for name in names:
            fn = ALL_QUERIES[name]
            # row count reported for sanity is computed ONCE, OUTSIDE
            # the timed window (it is a full second evaluation of the
            # query; counting inside the window would double every
            # timing) — it doubles as a per-query warm-up pass
            n = fn(spark, sf_dir).count()
            runs = []
            for _ in range(max(reps,
                               3 if name.startswith(VARIANCE_PRONE) else 0)):
                t0 = time.time()
                # noop sink: fully evaluates every output column (a
                # bare count() lets Catalyst prune projection-only
                # compute, so a map-side query would be timed as a
                # column-free row count)
                df = fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                runs.append(time.time() - t0)
            timings[name] = round(min(runs), 3)
            samples[name] = [round(x, 3) for x in runs]
            print(f"# {name}: {timings[name]}s ({n} rows) "
                  f"samples={samples[name]}", file=sys.stderr)
        return timings, samples

    # interleaved floor probes, one per QUERY BATCH (r15 verdict task
    # 1; supersedes r13's 3-sample scheme): two same-commit artifacts
    # differed 1.7× uniformly — pure VM weather — so the artifact must
    # carry enough probe samples to (a) estimate the machine factor
    # robustly (median of ~10, not 3) and (b) SELF-FLAG a noisy window
    # via the probe spread instead of printing a wrong-looking headline
    # with no provenance.
    probe_td = tempfile.TemporaryDirectory()
    probe_df, probe_mb = stage_scan_probe(spark, probe_td.name)
    floor_samples = [scan_probe_mb_s(probe_df, probe_mb)]

    def probe_tick():
        # release the PREVIOUS batch's dead driver state (Python refs →
        # py4j → ContextCleaner) before probing/timing the next one:
        # without this the ~130-query board accumulates GBs of dead
        # localCheckpoint blocks in the one local JVM (measured ~1 GB
        # per ~30 queries) and late-board queries pay earlier queries'
        # garbage — a long-lived cluster driver GCs this continuously.
        # Runs OUTSIDE every timed window; the timed action and
        # methodology are unchanged (r18).
        import gc
        gc.collect()
        spark._jvm.System.gc()
        s = scan_probe_mb_s(probe_df, probe_mb)
        floor_samples.append(s)
        print(f"# floor probe: {s} MB/s", file=sys.stderr)

    # headline: per-query best-of-3 (the numbers of record), probing
    # between batches so every ~6-query window has a contention reading
    HL_BATCH, SEC_BATCH = 6, 24
    timings: dict[str, float] = {}
    query_samples: dict[str, list[float]] = {}
    for i in range(0, len(HEADLINE), HL_BATCH):
        t, smp = time_queries(HEADLINE[i:i + HL_BATCH], reps=3)
        timings.update(t)
        query_samples.update(smp)
        probe_tick()
    # SPARK_GRAFT_BENCH_SMOKE=1: headline + probes only (no secondary
    # block, no volume benches) — the fast loop for bench-harness
    # changes and for noise-flag validation runs under deliberate load;
    # never the artifact of record (BENCH_FULL notes the mode)
    smoke = bool(os.environ.get("SPARK_GRAFT_BENCH_SMOKE"))
    secondary: dict[str, float] = {}
    for i in range(0, 0 if smoke else len(SECONDARY), SEC_BATCH):
        t, smp = time_queries(SECONDARY[i:i + SEC_BATCH], reps=2)
        secondary.update(t)
        query_samples.update(smp)
        probe_tick()

    # best-of-N for the volume paths too: the first full-size pass pays
    # JVM C2 compilation of the parquet writer + Arrow codec paths that
    # a long-lived cluster has already amortized; N=3 on the distributed
    # paths (the numbers of record) so one VM-contention spike can't
    # define the artifact
    def best_of(fn, n=2):
        runs = [fn(spark) for _ in range(n)]
        return {k: max(r[k] for r in runs) for k in runs[0]}

    vol_stats: dict[str, float] = {}
    if not smoke:
        vol_stats = best_of(run_volume_bench, 3)
        vol_stats.update(best_of(run_volume_distributed_bench, 3))
    floor_samples.append(scan_probe_mb_s(probe_df, probe_mb))
    probe_td.cleanup()
    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # floor-normalized headline (r9 verdict task 2): the probe is a pure
    # warm parquet scan with no engine code, so its ratio to the nominal
    # floor (800 MB/s, pinned once from the r8 artifact) measures VM
    # contention, not plan quality.  headline_normalized rescales the
    # raw total to nominal-floor conditions so round-over-round
    # comparisons stop being dominated by VM lottery — and a real plan
    # regression can't hide behind "the VM was slow".  Both numbers are
    # in the artifact; the raw total stays the gate.  Since r14 the
    # probe of record is the median of the three interleaved samples,
    # not the single in-bench dist_scan measurement.  The nominal floor
    # was re-pinned 800 → 1300 in r15 when the probe grew 84 MB →
    # 524 MB: the old 800 was calibrated to overhead-halved readings
    # (r14 verdict, What's wrong #1), the new probe reads ~1300 on a
    # healthy VM (3 staged runs: 1185/1293/1627; dist_scan on the
    # equally-sized volume: 1336), so under healthy conditions
    # normalized == raw and only genuine contention shrinks it.
    floor_nominal = 1300.0
    import statistics
    scan = round(statistics.median(floor_samples), 2)
    # machine_factor (r15 verdict task 1): median probe / nominal floor
    # — the one number that says how much of a slow headline is the VM.
    # The normalized headline is quoted ONLY when the probe spread is
    # under 20%; a wider spread means the window's contention was not
    # even stationary, so no single factor can honestly rescale it —
    # the artifact flags itself noisy and readers compare raw +
    # per-query samples instead.  Spread = IQR/median, NOT max−min:
    # over ~10 samples max−min sits at ~3σ (~35% on a HEALTHY window —
    # measured in the r16 shakedown) and would flag everything, while
    # IQR/median read 0.17 on the healthy window and 0.43 on the
    # genuinely drifting one (cold first third) — it separates the two
    # cases the flag exists to separate.  A uniformly-slow window (the
    # r15 1.7× episode) is NOT spread — machine_factor itself carries
    # that correction.
    machine_factor = round(scan / floor_nominal, 3)
    q1, _, q3 = statistics.quantiles(floor_samples, n=4)
    probe_spread = round((q3 - q1) / statistics.median(floor_samples), 3)
    noisy_window = probe_spread >= 0.20
    normalized = (None if noisy_window
                  else round(total * min(1.0, machine_factor), 3))
    # calibration evidence (r14 verdict task 1): the probe must agree
    # with the same run's best-of-3 dist_scan — both are warm binary-
    # payload parquet scans of ~equal size, so a ratio far from 1.0 in
    # the SAME window means the probe is measuring job overhead (r14:
    # the 84 MB probe read ~0.5×).  Two ratios are recorded because
    # they answer different questions: floor_vs_dist_scan compares the
    # mid-run MEDIAN (the normalization input — legitimately lower
    # when the query phase contends with the scan), while
    # floor_vs_dist_scan_same_window compares the probe sample taken
    # immediately AFTER the dist bench against dist_scan itself — the
    # overhead-bias check proper, expected ≈1.0±15%.
    dist = vol_stats.get("dist_scan_mb_s")
    cal = round(scan / dist, 3) if dist else None
    cal_sw = round(floor_samples[-1] / dist, 3) if dist else None
    full = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "volume": vol_stats,
        "floor_nominal_mb_s": floor_nominal,
        "floor_probe_mb_s": floor_samples,
        "floor_median_mb_s": scan,
        "floor_vs_dist_scan": cal,
        "floor_vs_dist_scan_same_window": cal_sw,
        "machine_factor": machine_factor,
        "probe_spread": probe_spread,
        "noisy_window": noisy_window,
        "smoke_mode": smoke,
        "headline_normalized": normalized,
        "secondary_total": round(sum(secondary.values()), 3),
        "secondary": secondary,
        "query_samples": query_samples,
    }
    # full per-query detail goes to stderr + a sidecar file; the FINAL
    # stdout line is a compact summary (headline queries dict kept — 16
    # frozen names ≈ 0.6 KB — but the 70+-entry secondary dict dropped)
    # guaranteed to fit the driver's 2000-char stdout tail capture.
    # BENCH_r10 taught us the hard way: one >3.5 KB line got truncated
    # to an unparseable tail and the perf gate went unverified.
    print("# FULL: " + json.dumps(full), file=sys.stderr)
    try:
        sidecar = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_FULL.json")
        with open(sidecar, "w") as fh:
            json.dump(full, fh, indent=1)
    except OSError:
        pass
    compact = {k: full[k] for k in (
        "metric", "value", "unit", "queries", "sf", "volume",
        "floor_median_mb_s", "floor_vs_dist_scan",
        "floor_vs_dist_scan_same_window", "machine_factor",
        "probe_spread", "noisy_window", "smoke_mode",
        "headline_normalized", "secondary_total")}
    line = json.dumps(compact)
    assert len(line) < 1900, f"compact bench line too long: {len(line)}"
    print(line)


if __name__ == "__main__":
    main()
