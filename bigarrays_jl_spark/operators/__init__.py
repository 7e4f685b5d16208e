"""Operator registry: every implemented query + its DuckDB oracle.

The driver contract (__spark_entry__.py) re-exports these; tests and
bench.py iterate the same registry so coverage stays in one place.

MODULE MAP — one line per domain module:

  relational         q01-q15: TPC-H-ish scans/joins/aggs/windows/setops
  advanced           q16-q42 core, volume bridge, scratch_volume fixture
  ordering           scale-safe global-order primitives (no queries)
  dedup              exact/minhash/ngram/embedding/paragraph/span dedup
  text               quality, langid, Gopher/CCNet, Zipf, TF-IDF, novelty
  similarity         brute/IVF/SQ8/PQ ANN, LSH, set-sim join, recall audits
  events             sessionize, windows, funnels, attribution, run-out
  events_cep         pattern / absence / Kleene event matching
  multimodal         binary columns, phash near-dup, frame sampling
  pipeline           decontamination, DSIR, packing, mixtures, curation
  extensions         retention/transitions/ngram-topk/bitext/semdedup
  graph              k-NN and LSH-edge graphs: PageRank, triangles, paths
  temporal           gap-fill, interpolation, intervals, EMA, TWAP
  asof_directions    backward/forward/nearest as-of joins
  retrieval          BM25, phrase search, RRF/MMR, entity resolution
  multijoin          galaxy-schema shapes
  mutation           MERGE/CDC, SCD2, erasure and data-quality audits
  cdc_null           NULL-key CDC canon
  debounce           event debouncing
  journeys           event paths
  estimation         sketches: heavy hitters, KMV, HDR, Count-Min, A-RES
  statistics         hypothesis tests and distribution summaries (q64-q99)
  tpch_deep          TPC-H Q2 / Q15 / Q18 deep-plan stressors
  tpch_more          TPC-H Q11 / Q22 plan shapes
  tpch_shapes        TPC-H Q13 / Q19 / Q20 plan shapes
  tpch_final         TPC-H Q9 / Q16 plan shapes
  tpch_canon         canonical Q4/Q6/Q10/Q12/Q14 (q92-q96)
  volume_analytics   voxel histograms, projections, equalization
  volume_seg         segmentation label statistics, ROI overlay, surface
  volume_channels    multi-channel (4D) volumes
  volume_pyramid     mip pyramids
  volume_components  connected components
  volume_rag         region adjacency graph
  volume_agglo       agglomeration over the region adjacency graph
  volume_qc          quality control along the sectioning axis
  volume_stencil     7-point stencil with halo exchange
"""

from __future__ import annotations

from bigarrays_jl_spark.operators import (advanced, asof_directions,
                                          cdc_null, debounce, dedup,
                                          estimation, events, events_cep,
                                          extensions, graph, journeys,
                                          multijoin, multimodal, mutation,
                                          pipeline, relational, retrieval,
                                          similarity, statistics, temporal,
                                          text, tpch_canon, tpch_deep,
                                          tpch_final, tpch_more,
                                          tpch_shapes, volume_agglo,
                                          volume_analytics, volume_channels,
                                          volume_components, volume_pyramid,
                                          volume_qc, volume_rag, volume_seg,
                                          volume_stencil)

# ordering is the driver-grading contract (r15 verdict task 7, stated
# explicitly): the driver's CORRECTNESS_r{N}.json gates the FIRST 50
# names this tuple yields; every query after that prefix is graded
# only by the commit-stamped full-registry sweeps (ORACLE_FULL.json /
# ORACLE_FULL_SF01.json, regenerated at round close) plus the seeded
# random re-verification transcript (ORACLE_SAMPLE.json — any third
# party reruns it with `python tools/check_oracle.py --sample N
# --seed R`).  New modules therefore APPEND (after extensions) so
# names land after the graded prefix and the prefix stays stable
# round-over-round.
_MODULES = (relational, advanced, dedup, text, similarity, events, multimodal,
            pipeline, extensions, graph, temporal, retrieval, multijoin,
            volume_analytics, mutation, debounce, journeys, estimation,
            tpch_deep, cdc_null, volume_channels, tpch_more, volume_seg,
            volume_pyramid, events_cep, tpch_shapes, volume_components,
            asof_directions, tpch_final, volume_rag, volume_agglo,
            volume_qc, tpch_canon, volume_stencil, statistics)

ALL_QUERIES = {}
ALL_ORACLES = {}
# queries whose oracle can only hold within a tolerance (approx sketches):
# {name: (exact_sql, rel_tol)} — tools/check_oracle.py grades these cells
# within ±rel_tol of the exact answer instead of by value hash
ALL_TOLERANCE_ORACLES = {}
for _m in _MODULES:
    for _name, _fn in _m.QUERIES.items():
        if _name in ALL_QUERIES:
            raise ValueError(f"duplicate query name {_name}")
        ALL_QUERIES[_name] = _fn
    ALL_ORACLES.update(_m.ORACLES)
    ALL_TOLERANCE_ORACLES.update(getattr(_m, "TOLERANCE_ORACLES", {}))

__all__ = ["ALL_QUERIES", "ALL_ORACLES", "ALL_TOLERANCE_ORACLES"]
