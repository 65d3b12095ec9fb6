#!/usr/bin/env python
"""Generate COVERAGE.md: SURVEY.md §2 operator inventory -> where each
operator lives in this engine (registered oracle-checked queries, or
operator modules + tests).  Query names are validated against the live
registry so the doc cannot reference things that don't exist.

Run: python tools/gen_coverage.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from copperhead_spark.plans.registry import all_queries

# SURVEY §2 ID -> (description, [query names], "other coverage" note)
INVENTORY: list[tuple[str, str, list[str], str]] = [
    # 2.1 scans / sources / sinks
    ("S1", "ROOT NanoAOD chunked scan", ["s1_root_scan", "s1_root_scan_jagged", "s1_root_scan_files", "s1_root_scan_zstd"], "sources/root_ingest.py + sources/rootio.py (pure-python TFile/TKey/TBasket decode incl. jagged counts+payload branches and ZL/XZ/L4/ZS compression frames — sources/lz4codec.py implements kLZ4+XXH64 and sources/zstdcodec.py the full RFC 8878 zstd decoder from spec; tree metadata is a real streamed TTree/TBranch/TLeaf object record with fBasketEntry/fBasketSeek tables, sources/treeobj.py; uproot optional)"),
    ("S2", "Source column pruning", ["p1_conjunctive_filter"], "Catalyst column pruning (ReadSchema verified in plan audit)"),
    ("S3", "Partitioned parquet sink", ["s3_partitioned_sink_roundtrip"], "sources/parquet_io.py"),
    ("S4", "Partitioned scan + repartition", ["s4_partition_pruned_scan"], "AQE coalescing in session defaults"),
    ("S5", "File listing + layout-optimized ingest", ["s5_multipath_clustered_scan"],
     "sources/layout.py optimize_layout (target file sizing, range-clustered files for min/max pruning); explicit path-list scan"),
    ("S6", "Metadata pre-scan aggregate", ["s6_metadata_prescan", "s1_root_scan_files"], "sources/root_ingest.py scan_entries (distributed mmap entry-count pre-scan feeding chunk planning)"),
    ("S7", "Histogram sink/source", ["a5_weighted_histogram"], "histogram is a DataFrame -> plain parquet sink; no pickles"),
    ("S8", "ROOT TH1 template sink", ["s8_th1_template_sink", "pipeline_root_to_th1_e2e", "pipeline_root_to_th1_variations_e2e"], "finishing/templates.py + sources/rootio.py write_th1f (TArrayF/TArrayD byte layout; uproot optional); the variations query emits one template per (region, channel, variation) with datacard-style suffixes"),
    ("S9", "Output overwrite management", ["s3_partitioned_sink_roundtrip"], "dynamic partition overwrite (idempotency probed)"),
    ("S10", "CSV/JSON/ORC lookup + interchange IO", ["s10_csv_lookup_join"], "sources/tabular_io.py (JSON/ORC round-trips in tests/test_tabular_io.py)"),
    ("S11", "Schema-evolution scan (mergeSchema)", ["s11_schema_evolution_scan"],
     "two file generations, column added mid-history; footer-only merge at planning time, NULL-filled for old files"),
    ("S12", "MERGE INTO upsert (batch changeset apply)", ["s12_merge_upsert"],
     "base FULL OUTER JOIN changeset on the merge key; insert/update/delete semantics; batch twin of ST8"),
    # 2.2 projections / filters
    ("P1", "Conjunctive predicate filter", ["p1_conjunctive_filter", "flagship_selection_yield"], ""),
    ("P2", "OR-of-booleans predicate", ["p2_or_of_booleans"], ""),
    ("P3", "AND-of-booleans predicate", ["p3_and_of_booleans"], ""),
    ("P4", "Interval-membership filter (lumi mask)", ["p4_interval_mask"], ""),
    ("P5", "CASE-WHEN region labeling", ["p5_case_region_label", "flagship_selection_yield"], "pipeline.py stage1"),
    ("P6", "Ordered CASE-WHEN channel cascade", ["p6_channel_cascade"], "pipeline.py stage2"),
    ("P7", "Membership / fold filter", ["p7_membership_fold"], ""),
    ("P8", "Derived-column projection (wide)", ["phys_p4_kinematics", "phys_delta_r", "phys_geofit_piecewise"], "pipeline.py _pair_kinematics (~25 derived cols)"),
    ("P9", "Column subsetting & renaming on save", ["p9_select_rename_flatten"], ""),
    ("P10", "Null handling / sentinel fill", ["j11_aggregate_back_join"], "coalesce/fillna; pipeline NULL jj semantics tested"),
    ("P11", "Dataset relabel split", ["p11_dataset_relabel_split"], ""),
    ("P12", "Overlap removal", ["p12_overlap_removal"], ""),
    # 2.3 joins
    ("J1", "Index equi-join (cross-reference)", ["j1_star_join_revenue"], "FSR recovery in pipeline.stage1_arrays is an index dereference in operators/stage1_kernel.py"),
    ("J2", "dR cleaning anti-join", ["j2_anti_join", "phys_delta_r"], "jet-vs-muon dR cleaning in operators/stage1_kernel.py (pipeline stage1; tested vs DuckDB oracle and pandas mirror)"),
    ("J3", "Intra-event cartesian + quantified predicate", ["j3_forall_quantified", "arr_forall_exists"], ""),
    ("J4", "Dimuon pairing (top-2 pivot)", ["j4_top2_pivot"], "pt-ordered top-2 in operators/stage1_kernel.py (pipeline stage1)"),
    ("J5", "Broadcast scalar-map join", ["j5_broadcast_dim_join", "s6_metadata_prescan"], ""),
    ("J6", "1-D binned lookup join", ["j6_binned_lookup_1d"], "operators/lookup.py bucket equi-join rewrite"),
    ("J7", "2-D binned lookup join", ["j7_binned_lookup_2d"], ""),
    ("J8", "Piecewise-linear interpolation / as-of", ["j8_interp_piecewise", "asof_last_purchase", "asof_cogroup_merge"],
     "operators/asof.py (union+running-max) + cogrouped applyInPandas merge_asof (vs DuckDB ASOF JOIN)"),
    ("J9", "Multi-dim parameterized lookup (Rochester/JEC)", ["j9_param_lookup_udf"], "operators/rochester.py (broadcast tables + Arrow UDF)"),
    ("J10", "b-tag SF lookup join + product", ["j10_sf_product"], ""),
    ("J11", "Aggregate-back join", ["j11_aggregate_back_join"], ""),
    ("J12", "dR footprint semi-join + corrective agg", ["j12_footprint_correction"], ""),
    ("J13", "Union of partitioned inputs", ["u1_union_all"], "multi-path parquet read"),
    # 2.4 aggregations
    ("A1", "Per-group count / count distinct", ["a1_count_per_group"], ""),
    ("A2", "Per-group product (signed)", ["j10_sf_product"], "operators/aggregates.py (zeros/negatives unit-tested)"),
    ("A3", "Per-group argmax/argmin", ["a3_argmax_per_group"], ""),
    ("A4", "Global sums / normalization constants", ["a4_global_aggregates", "s6_metadata_prescan"], ""),
    ("A5", "Weighted histogram", ["a5_weighted_histogram"], "operators/histogram.py (vs np.histogram unit test)"),
    ("A6", "Grouped yields", ["a6_pricing_summary", "flagship_selection_yield", "text_length_by_source"], ""),
    ("A7", "Distinct", ["a7_distinct"], ""),
    ("A8", "Quantiles", ["a8_quantiles"], ""),
    ("A9", "Stddev over array slice", ["arr_slice_stats"], ""),
    ("A10", "Ordered cumulative sum -> bin edges", ["a10_yield_bin_edges", "w4_cumsum_per_group"], ""),
    ("A11", "Histogram merge (partial->final)", ["a11_histogram_merge"], "finishing/templates.py group_templates"),
    ("A12", "Max/min scalars, clamps", ["a4_global_aggregates", "o2_global_topk"], "least/greatest clamping in operators/lookup.py"),
    ("A13", "Value-counts histogram", ["a13_value_counts"], ""),
    # 2.5 windows
    ("W1", "Ranking within group", ["w1_rank_in_group", "j4_top2_pivot"], ""),
    ("W2", "nth-per-group", ["j4_top2_pivot", "w1_rank_in_group"], ""),
    ("W3", "argmax per group (window)", ["a3_argmax_per_group"], ""),
    ("W4", "Running cumulative aggregate", ["w4_cumsum_per_group", "a10_yield_bin_edges"], ""),
    # 2.6 sorts / limits
    ("O1", "Per-group sort", ["w1_rank_in_group"], "window ordering / sortWithinPartitions"),
    ("O2", "Global sort", ["o2_global_topk", "a10_yield_bin_edges"], ""),
    ("O3", "Top-k per group", ["j4_top2_pivot", "w1_rank_in_group", "sim_cosine_topk"], ""),
    ("O4", "Presentation sort", ["o4_presentation_sort"], "agg-then-sort: ORDER BY cost independent of corpus size"),
    ("O5", "maxchunks limit", ["o2_global_topk"], "limit(n) on sorted scan"),
    # 2.7 set ops
    ("U1", "UNION ALL", ["u1_union_all", "p12_overlap_removal"], ""),
    ("U2", "INTERSECT", ["u2_intersect"], ""),
    ("U3", "Dedup / dropDuplicates", ["u3_dedup_pairs", "a7_distinct"], ""),
    # 2.8 scalar/array functions
    ("M1", "Kinematic math (p4_sum, delta_r, CS angles, rapidity)", ["phys_p4_kinematics", "phys_delta_r"], "functions/physics.py shared-SQL generators"),
    ("M2", "Conditional masked assignment", ["phys_geofit_piecewise", "p5_case_region_label"], ""),
    ("M3", "Interpolation", ["j8_interp_piecewise"], "vs np.interp unit + property tests"),
    ("M4", "Deterministic random (hash uniforms)", ["rand_hash_uniform"], "operators/rochester.py (overflow-hardened, property-tested)"),
    ("M5", "String functions (labels, concat)", ["p11_dataset_relabel_split", "text_token_stats"], ""),
    ("M6", "Date/time functions", ["t1_time_bucket_agg", "t2_date_parts", "t3_session_gaps"], "extension beyond reference"),
    ("M7", "Array HOFs (size/slice/element_at/forall/transform/aggregate)", ["arr_slice_stats", "arr_forall_exists", "arr_posexplode"], "plans/arrays.py"),
    # 2.9 streaming (extension)
    ("ST1", "Tumbling window + watermark", ["stream_tumbling_window"], ""),
    ("ST2", "Sliding window", ["stream_sliding_window"], ""),
    ("ST3", "Session window", ["stream_session_window"], ""),
    ("ST4", "Dedup within watermark", ["stream_dedup_watermark"], ""),
    ("ST5", "Custom stateful operator (applyInPandasWithState)", ["st5_stateful_profile"], "streaming/stateful.py (vs batch oracle, tests/test_streaming_stateful.py)"),
    ("ST6", "Stream-static broadcast join", ["stream_static_join"], "stateless enrichment; state only in the downstream agg"),
    ("ST7", "Stream-stream interval join", ["stream_stream_join"],
     "watermarks both sides + event-time-bounded state (click-attribution shape)"),
    ("ST8", "foreachBatch idempotent sink (exactly-once upsert)", ["stream_foreachbatch_sink"],
     "update-mode window agg -> dynamic partition overwrite keyed on window; replay-safe, write bounded by updated windows"),
    ("RJ1", "Generic bucketed range join (overlapping intervals)", ["range_join_bucketed"], "operators/rangejoin.py (hash join, no BNLJ)"),
    ("SK1", "Skew-salted aggregation", ["sk1_salted_skew_agg"], "operators/skew.py (bit-equal to unsalted; tests/test_scale_ops.py)"),
    ("SK2", "Skew-salted shuffle join", ["sk2_salted_skew_join"],
     "operators/skew.py salted_join (dim replicated per salt; ShuffledHashJoin pinned, no broadcast)"),
    ("BK1", "Bucketed co-located join", ["bk1_bucketed_join_agg"], "tests/test_scale_ops.py (no Exchange in bucketed SMJ)"),
    ("BF1", "Bloom-filter semi-join reduction", ["bloom_semijoin_reduction"],
     "operators/bloom.py: 8 KiB literal bitmap prefilters the fact side map-side before the exchange; no false negatives tested"),
    # 2.10 UDF surface
    ("F1", "Batched DNN inference + fold routing", ["ml_mlp_inference", "pipeline_root_to_mva_histogram_e2e"], "ml/inference.py (UDF vs unrolled-SQL oracle; the e2e composes the fold-routed MVA into ROOT scan -> stage1 -> score-binned histogram)"),
    ("F2", "Batched BDT inference", ["ml_gbdt_inference"], "real tree-ensemble payload (ml/gbdt.py): 2-fold x 8 depth-3 trees, vectorized heap traversal, logistic link; unrolled nested-CASE oracle"),
    ("F3", "Mass-resolution calibration lookup", ["j7_binned_lookup_2d"], "2-D binned broadcast lookup"),
    ("F4", "Rochester/JEC evaluators", ["j9_param_lookup_udf"], "operators/rochester.py"),
    ("F5", "Weights accumulator (ledger)", ["f5_weights_ledger"], "operators/weights.py (zero-safe variations unit-tested)"),
    ("F6", "Row-wise helper (max_abs_eta)", ["a4_global_aggregates"], "greatest(abs(...)) expression"),
    # 2.11 finishing
    ("FIN1", "Parametric fits + chi2 model selection", ["fin1_chi2_model_selection", "pipeline_root_to_fit_e2e"], "finishing/fits.py (chebyshev/bernstein/bwZ/bwZredux/bwGamma/doubleCB — full reference menu; tests recover params; rows-only query — fits are not SQL-expressible)"),
    ("FIN2", "Templates / group summation", ["fin2_group_templates"], "finishing/templates.py (driver-side twin on collected data)"),
    ("FIN3", "Datacard emission", ["fin3_datacard_yields", "pipeline_root_to_datacard_e2e"], "finishing/templates.py make_datacard consumes the rate table; the e2e emits the card TEXT from the ROOT->stage1 chain and parses it back"),
    # beyond-reference mandated families
    ("D1", "Exact dedup", ["dedup_exact_groups"], ""),
    ("D2", "MinHash + LSH dedup", ["dedup_minhash_signatures", "dedup_minhash_signatures_sql", "dedup_minhash_lsh_pairs", "dedup_minhash_jaccard_est"], "operators/dedup.py vectorized kernels; signature-agreement Jaccard estimate ranks candidates before exact verify"),
    ("D3", "SimHash dedup", ["dedup_simhash_signatures", "dedup_simhash_pairs"], ""),
    ("D4", "n-gram Jaccard dedup", ["dedup_ngram_jaccard_pairs"], ""),
    ("D5", "Embedding-cosine near-dup", ["dedup_embedding_cosine_pairs"], ""),
    ("D6", "Document fingerprinting", ["text_rolling_fingerprint", "dedup_exact_groups"], ""),
    ("D7", "Connected-components dedup clustering", ["dedup_connected_components", "dedup_cluster_stats"],
     "operators/graph.py (hash-min propagation, O(diameter) rounds, vs union-find oracle)"),
    ("D8", "Semantic dedup (SemDeDup: within-k-means-cluster cosine)", ["dedup_semantic_clusters"],
     "pair scan confined to clusters: sum(|cluster|^2), not n^2"),
    ("D9", "Cluster representative selection (kept corpus)", ["dedup_cluster_representatives"],
     "argmax-length per CC cluster; shuffle key = component label (no skew: cluster sizes bounded)"),
    ("KM1", "Distributed k-means (IVF centroid training)", ["kmeans_update_step", "sim_kmeans_train"],
     "operators/kmeans.py (map-only assignment vs literal centroids; exact int64 update; vs numpy mirror)"),
    ("SIM1", "Brute-force cosine top-k", ["sim_cosine_topk"], ""),
    ("SIM3", "int8 scalar-quantized ANN sweep", ["sim_quantized_topk"],
     "per-vector symmetric quantization; 4x smaller candidate scan"),
    ("SIM2", "LSH-bucketed / IVF-partitioned ANN", ["sim_lsh_buckets", "sim_ivf_topk"], "IVF: shuffle-free centroid assignment + broadcast probe join"),
    ("SKE1", "HyperLogLog distinct sketch (mergeable)", ["sketch_hll_distinct"],
     "shuffle = |groups| x 4096 cells, never the key space; quadratic-mixed portable hash; merge-by-MAX property tested"),
    ("SKE2", "Count-min sketch point queries", ["sketch_cms_counts"],
     "depth x width bounded aggregate over the token stream; never-undercounts + collision-bound tested"),
    ("LA1", "Gram / second-moment matrix (PCA data pass)", ["emb_gram_matrix"],
     "operators/linalg.py: per-batch int64 matmul partials in mapInPandas; shuffle = O(partitions*dim^2) rows"),
    ("LA2", "Signed (JL) random projection", ["emb_random_projection"],
     "compile-time literal sign matrix; map-only, zero shuffle, bit-exact integer dots"),
    ("IR1", "BM25 scoring + top-k retrieval", ["text_bm25_topk"],
     "map-only tf/dl; df/avgdl one broadcast stats row; TakeOrderedAndProject top-k — corpus never shuffled"),
    ("IR2", "Hybrid retrieval (reciprocal-rank fusion)", ["retrieval_rrf_fusion"], "integer fixed-point RRF over the BM25 and cosine top-k lists; fusion cost independent of corpus size"),
    ("T1", "Language ID", ["text_lang_id"], ""),
    ("T2", "Quality scoring", ["text_quality_score"], ""),
    ("T3", "Token counting", ["text_token_stats"], ""),
    ("T4", "Deterministic stratified sampling", ["text_sample_stratified"], "hash-uniform filter on stable key: reproducible + pushdown-friendly"),
    ("T13", "Weighted reservoir sampling (A-Res)", ["sample_weighted_reservoir"],
     "hash-uniform u^(1/w) top-k via TakeOrderedAndProject (per-partition heaps, no global sort)"),
    ("T17", "Class-balanced downsampling", ["sample_balanced_downsample"], "per-label hash-rank to min class size; reproducible where randomSplit/sample are not; id-sum checksum pins the exact kept set"),
    ("T14", "Temperature-weighted domain mixture sampling", ["sample_domain_mixture"],
     "per-source mass agg (vocab-sized) -> broadcast rates -> map-only hash-uniform keep filter"),
    ("T15", "Corpus snapshot diff (CDC changelog)", ["corpus_snapshot_diff"],
     "full-outer hash join on (doc_id, fingerprint) projections — corpus bodies never shuffled"),
    ("T5", "Train/val/test split", ["text_train_val_test_split"], "stable under repartitioning/appends (randomSplit is not)"),
    ("T6", "Repetition stats (dup-trigram fraction)", ["text_repetition_stats"],
     "zero-shuffle array expressions"),
    ("T7", "Composite Gopher-style quality gate", ["text_gopher_filter"], ""),
    ("T9", "Corpus vocabulary top-k", ["text_vocab_topk"],
     "explode -> partial-agg count; top-k on the agg table (vocab-sized)"),
    ("T8", "PII / URL redaction", ["text_pii_redaction"],
     "regex projection, map-only; semantics pinned on crafted strings"),
    ("T10", "Sequence packing (concat-and-chunk)", ["pack_sequences"],
     "per-shard cumsum: no global sort; pack ids disjoint by construction"),
    ("T12", "Line/segment-level boilerplate dedup", ["text_line_dedup"], "two-pass global segment counts; Dolma/CCNet pattern"),
    ("T11", "Benchmark decontamination screen", ["text_contamination_screen"],
     "token 8-gram containment vs broadcast benchmark set; corpus never shuffled"),
    ("CUR1", "Corpus curation e2e (quality -> CC dedup -> split)",
     ["pipeline_corpus_curation"], "composition of oracle-checked stages, one oracle"),
    # round-5 additions
    ("S17", "Schema-evolving streaming MERGE sink (S11+S12+ST8 composed)",
     ["s17_evolving_stream_merge"],
     "two availableNow streams, shared foreachBatch MERGE, second stream adds a column; "
     "mergeSchema read-back value-checked; bucket-partitioned dynamic overwrite, "
     "localCheckpoint before rewrite (safe delete-before-write)"),
    ("T18", "Sliding-window document chunking (RAG ingest)", ["text_chunk_overlap"],
     "64-token chunks, stride 48; map-only array slices; order-sensitive chunk hash pins content"),
    ("T19", "Temperature-scaled mixture weights (n^alpha, alpha=0.5)",
     ["sample_temperature_mixture"],
     "per-domain sqrt fixed-pointed to e6 BEFORE summation -> integer normalization "
     "(no float-sum order dependence); complements T14's mass-based keep filter"),
    ("IR3", "RAG chunk -> embed -> top-k e2e", ["pipeline_rag_chunk_embed_topk"],
     "deterministic integer chunk embedding, exact integer dot ranking, "
     "TakeOrderedAndProject top-k; front half of the ANN serving path (SIM family)"),
    ("D11", "Fuzzy dedup e2e (minhash -> LSH -> CC -> representatives -> audit)",
     ["pipeline_fuzzy_dedup_e2e"],
     "four oracle-checked stages composed under ONE oracle; per-language kept-corpus accounting"),
    ("MM1", "Multimodal binary columns + metadata", ["mm_media_metadata"], ""),
    ("MM2", "Media decode via mapInPandas", ["mm_decode_features"], "operators/multimodal.py (pluggable decoder)"),
    ("MM3", "Frame sampling expansion (UDTF-shaped)", ["mm_frame_sample"], "map-side Generate; bounded row multiplier"),
    ("UDTF1", "Python UDTF via LATERAL (context chunking)", ["udtf_token_chunks"],
     "row-generating Python table function; slow path by design — explode form is the production twin"),
    ("UDAF1", "Grouped-agg pandas UDF (Python UDAF)", ["udaf_grouped_median"],
     "exact lower-median order statistic; bounded group sizes required — a8_quantiles is the giant-group path"),
    # pipeline parity
    ("E2E", "stage1->2->3 pipeline on jagged events", ["pipeline_hmm_histogram", "pipeline_root_to_th1_e2e"], "pipeline.py stage1_arrays (zero-shuffle: one Arrow/NumPy kernel front half + codegen'd JVM tail; benched in bench.py and perfbench hmm_root) + distributed executor-side fixture; vs the DuckDB oracle (front half bit-exact) and an independent pandas mirror, tests/test_pipeline.py.  pipeline_root_to_th1_e2e composes the FULL reference chain in one oracle: ROOT jagged scan -> stage1/2 -> weighted histogram -> TH1F templates read back from ROOT bytes"),
    # relational / analytics extensions
    ("R1", "CUBE / GROUPING SETS rollup", ["a5_cube_grouping_sets"], "one shuffle, grouping-id disambiguated"),
    ("R2", "PIVOT / UNPIVOT reshape", ["pivot_status_by_flag", "unpivot_variations"], ""),
    ("R3", "EXCEPT set difference", ["u4_except"], ""),
    ("R4", "Semi-structured JSON property extraction", ["json_extract_props"], "get_json_object projection; from_json schema-on-read twin in S14"),
    ("R9", "MAP-typed columns (parse bag -> explode -> per-key rollup)", ["map_props_explode"], "from_json map schema keeps unknown keys a struct schema would drop"),
    ("R5", "SQL API surface (spark.sql text plans)", ["sql_api_region_revenue"], "identical Catalyst plan as the DataFrame form"),
    ("R6", "Approximate aggregates with oracle-checked error bounds", ["approx_aggregates"], "HLL++/percentile_approx emit integer pass flags vs exact values computed in the same plan"),
    ("R7", "NTILE decile bucketing (per-domain quality split)", ["w6_ntile_deciles"], "deterministic total order; 100 TB caveat documented (shard-local deciles)"),
    ("R10", "RANGE-frame windows (value-keyed trailing frames)", ["w7_range_frame_trailing_sum"], "ties enter the frame together — the semantics ROWS frames cannot express"),
    ("R11", "Scalar-subquery SQL surface", ["p13_scalar_subquery"], "uncorrelated one-row subquery broadcast into the filter; exact fixed-point average threshold"),
    ("R12", "Grouped ARRAY outputs (collect -> sort -> slice)", ["a15_grouped_array_agg"], "sort_array pins element order (collect_list alone is partition-dependent)"),
    ("R13", "Multiset set ops (INTERSECT ALL / EXCEPT ALL)", ["u5_multiset_set_ops"], "bag semantics the DISTINCT forms cannot express; hash-agg shape, no sort"),
    ("R14", "Correlated EXISTS / NOT EXISTS subqueries", ["j15_exists_subquery"], "Catalyst rewrites to LeftSemi + LeftAnti joins"),
    ("R16", "Null-safe equi-join (<=>)", ["j16_null_safe_join"], "NULL bucket matches NULL bucket — the nullable-dim row-loss pitfall pinned; same exchange shape as any equi-join"),
    ("DQ1", "Data-quality constraint report (Deequ shape)", ["dq_constraint_report"], "uniqueness/non-null/range/domain in ONE scan (conditional sums); referential integrity via broadcast anti-join"),
    ("W8", "SCD type-2 dimension build from a change stream", ["scd2_dimension_build"], "lag() collapses same-as-previous versions, lead() closes validity intervals; one per-key exchange, sorted once"),
    ("A17", "2-D weighted histogram (joint heatmap rollup)", ["a17_histogram_2d"], "ONE groupBy; dimensionality multiplies cells, not passes"),
    ("A18", "Weighted median (weighted order statistic)", ["a18_weighted_median"], "integer cumulative weights, crossing rule cum*2>=total; collapse-then-window on |groups| x |values| rows"),
    ("O6", "Keyset (seek) pagination", ["o6_keyset_pagination"], "O(page) per page vs LIMIT/OFFSET's O(depth); anchor ships as literals; TakeOrderedAndProject over pushed filter"),
    ("R15", "Null-preserving explode (LATERAL VIEW OUTER)", ["arr_explode_outer"], "empty arrays survive as NULL rows — the fan-out row-loss pitfall pinned"),
    ("TS6", "Time-series gap fill + forward fill", ["t5_gap_fill_ffill"], "hour-grid densify + last(ignorenulls) window; cost bound by the time range, not event volume"),
    ("R8", "Correlation / covariance (exact integer moments)", ["a14_corr_covar"], "six BIGINT sums per group; float math once per group row — bit-deterministic where corr()/covar_pop() are not"),
    # time-series / clickstream extensions
    ("TS1", "Lag/lead offset windows (per-key deltas)", ["t4_lag_lead_delta"], "one user_id exchange; total order via (ts, event_id)"),
    ("TS2", "Sessionization (gap cutoff)", ["sessionize_events"], "batch twin of ST3 session windows"),
    ("TS3", "Funnel analysis (ordered step progression)", ["session_funnel"], ""),
    ("TS4", "Trailing-window z-score spike detection", ["events_spike_detection"], "window over the tiny hourly rollup, not raw events"),
    ("TS5", "Retention cohorts (first-seen week x age)", ["events_retention_cohorts"], "integer epoch-week binning, calendar-free"),
    # graph analytics (beyond-reference)
    ("GR1", "PageRank (iterative, fixed-point int)", ["graph_pagerank"], "edge list materialized src-partitioned once; SHUFFLE_HASH frontier join — only |nodes| ranks move per round"),
    ("GR2", "k-core decomposition (peeling loop)", ["graph_kcore_members"], "checkpointed rounds, early fixpoint stop"),
    ("GR3", "Triangle counting / degree histogram", ["graph_triangle_count", "graph_degree_histogram"], "oriented wedge join; production caps out-degree at sqrt(m)"),
    ("GR4", "Label propagation (community detection)", ["graph_label_propagation"], "deterministic min-label tie-break; same frontier-only shuffle shape as GR1"),
    # record linkage / entity resolution (beyond-reference)
    ("LNK1", "Blocked TF-IDF cosine linkage pairs", ["text_tfidf_blocked_pairs"], "pair volume = sum(|block|^2), never n^2"),
    ("LNK2", "Fuzzy edit-distance linkage", ["linkage_fuzzy_name_pairs"], "blocked Levenshtein band join"),
    ("LNK3", "Entity-resolution pipeline (pairs -> canonical clusters)", ["pipeline_entity_resolution"], "fuzzy pairs + hash-min connected components composition"),
    ("LNK4", "Incremental dedup vs standing index", ["dedup_incremental_index"], "only the new batch scans for candidates"),
    ("D10", "Shingle containment (doc-in-doc engulfment)", ["dedup_ngram_containment_pairs"], "|A∩B|/min(|A|,|B|) catches subset dups Jaccard dilutes; labels the contained side"),
    # tokenizer training/inference (beyond-reference)
    ("TOK1", "BPE pair counting (training inner loop)", ["text_bpe_pair_counts"], ""),
    ("TOK2", "Iterative BPE merge training", ["text_bpe_train_merges"], "argmax-adopt-reapply rounds; unrolled-CTE oracle"),
    ("TOK3", "BPE corpus encoding (tokenizer inference)", ["text_bpe_encode"], "literal merge table, map-only fold; order-sensitive sequence hash proves token-level parity"),
    ("TOK4", "Bigram-LM perplexity-style scoring", ["text_bigram_lm_score"], "tokenize-once materialization; corpus-level LM stats broadcast"),
    ("ML1", "Feature hashing (hashing-trick vectorizer)", ["text_feature_hashing"], "portable quadratic-mix bucket hash; no vocabulary table — the fixed-width input linear models consume"),
    ("ML2", "Full-batch perceptron training loop", ["ml_perceptron_train"], "integer update rule -> bit-reproducible training trajectory; per-epoch gradient partials aggregate map-side, weights live on the driver (k=4 here, fasttext-width broadcasts the same)"),
    ("T16", "Substring/span-level dedup (coverage trim)", ["text_substring_dedup"], "rolling-hash gram stream materialized once; span-union fold property-tested"),
    # retrieval / embedding extensions
    ("SIM4", "Product-quantization ANN (ADC scan)", ["sim_pq_topk", "sim_pq_recall"], "32x compression; query-time scoring is M table lookups per candidate"),
    ("SIM7", "E2E vector-index build (IVF + PQ, one pass)", ["pipeline_ann_index_build"], "coarse cell + PQ code in one map-only projection; only exchange is the per-cell stats rollup"),
    ("SIM5", "ANN recall gates (quality, oracle-checked)", ["sim_ivf_recall", "sim_pq_recall"], "recall@k vs the exact kernel as an exact-arithmetic aggregate"),
    ("SIM6", "kNN label classification", ["sim_knn_classify"], "majority vote over the partial-top-k cosine kernel"),
    ("LA3", "Per-label embedding centroids (class prototypes)", ["emb_label_centroids"], "posexplode + integer partial agg; exchange carries labels x dims x partitions rows"),
    ("SKE3", "Mergeable binned-quantile sketch", ["sketch_binned_quantiles"], "bounded-error estimator; merge = cell-wise sum"),
    ("SKE4", "HLL sketch merge across partitions/days", ["sketch_hll_merge_days"], "merge-equals-rebuild demonstrated"),
    ("SKE5", "HLL set intersection (inclusion-exclusion)", ["sketch_hll_intersection"], "union sketch = cell-wise MAX merge; estimate gated vs exact at 5% as an integer pass flag; zero-join scalar combine"),
    ("ST9", "Incremental HLL maintenance across micro-batches", ["stream_hll_incremental"], "foreachBatch MAX-merge of a types x m cell table; state never grows with cardinality; 4 real micro-batches, full-value vs batch rebuild"),
    # market-basket
    ("MB1", "Association rules (support/confidence/lift)", ["market_basket_rules"], "pair expansion shares the per-order sorted-set helper with GR3"),
    ("MM4", "Perceptual-hash media near-dup (banded)", ["mm_phash_dedup"], "4x8-bit bands; pigeonhole-lossless at hamming<=3; DCT swaps in via the same decode contract"),
    ("MM5", "Audio windowed-energy feature extraction", ["mm_audio_energy_windows"], "non-overlapping analysis frames; map-side explode, no shuffle; DSP swaps in via the decode contract"),
    ("MM6", "Image resize (nearest-neighbor gather)", ["mm_image_resize"], "integer index arithmetic; resized grid value-checked cell by cell; real resampler swaps in via the decode contract"),
    ("MM7", "Media dedup clusters (phash pairs -> CC keep/drop)", ["mm_phash_clusters"], "media twin of D7: transitive closure over banded-phash pairs, shared hash-min CC operator"),
    ("D11", "LSH candidate recall gate (vs exact Jaccard)", ["dedup_lsh_recall"], "dedup twin of SIM5: integer hit counts oracle-check the banding quality claim itself"),
    # sources extensions
    ("S13", "Z-order clustered layout + 2-D range scan", ["s13_zorder_clustered_scan"], "Morton-key write; footer-measured file skipping"),
    ("S14", "JSON-lines sink + explicit-schema scan", ["s14_jsonlines_roundtrip"], "no inference pass; from_json props parse; doubles round-trip bit-exactly"),
    ("S15", "ORC interchange roundtrip", ["s15_orc_roundtrip"], "native vectorized ORC reader; same pruning/pushdown treatment as parquet"),
    ("S16", "Malformed-record-tolerant CSV scan (PERMISSIVE)", ["s16_csv_badrecords_scan"], "_corrupt_record capture; poison rows cannot kill a 100 TB ingest stage"),
    # round-5 extensions
    ("R10", "ROLLUP hierarchy subtotals", ["a19_rollup_hierarchy"], "grand total + per-region + per-nation from ONE grouping-sets shuffle"),
    ("R11", "FILTER-clause (predicated) aggregates", ["a20_filtered_aggregates"], "N differently-predicated aggregates out of one scan + one exchange"),
    ("R12b", "Correlated LATERAL top-k per key", ["j18_lateral_topk_per_nation"], "oracle runs true LATERAL; Spark plan is the de-correlated window rank — one shuffle regardless of outer cardinality"),
    ("W8", "Distribution ranks (percent_rank / cume_dist)", ["w8_percent_rank_cume_dist"], "ppm-quantized for exact cross-engine compare"),
    ("W9", "Explicit ROWS-frame navigation (first/last/nth_value)", ["w9_frame_first_last_nth"], "neighbor context without self-joins; one pass per sorted partition"),
    ("D12", "Winnowing fingerprints (MOSS)", ["text_winnowing_fingerprints", "dedup_winnowing_pairs"], "window-min selected k-gram hashes; pair space = fingerprint-bucket join, pair cost tracks true overlap density"),
    ("SIM8", "Matryoshka prefix-ranking audit", ["emb_matryoshka_topk"], "prefix-dim top-k vs full-dim top-k survival flags; micro-int exact on both widths"),
    ("SIM9", "Incremental vector-index ingest", ["sim_ivf_incremental_add"], "new batch assigned map-only to standing centroids; ingest cost linear in batch, independent of index size"),
    ("GR7", "Multi-source BFS hop distances", ["graph_bfs_distances"], "frontier-only SHUFFLE_HASH expansion + anti-join dedup; per-round cost tracks the frontier boundary, not the graph"),
    ("RET3", "TF-IDF keyword extraction (top terms per doc)", ["text_tfidf_topterms"], "tokenize once; vocab-sized df hash join; LN through 1e-9 fixed point"),
    ("J19", "SCD2 point-in-time (as-of validity) join", ["j19_scd2_temporal_join"], "hash equi-join on the high-cardinality key + validity post-filter; interval machinery (j17) reserved for no-equi-key ranges"),
    ("ML6", "Model-in-the-loop corpus curation (label -> IRLS train -> filter -> mix -> pack)", ["pipeline_classifier_curation_e2e"], "the production quality-classifier shape: expensive gold label on a carve-out only, 2 Newton steps as 2x5 BIGINT stats, betas re-enter as literals in a map-only corpus filter; one oracle pins model AND downstream pack layout"),
    ("ML3", "Closed-form OLS via sufficient statistics", ["ml_ols_fit"], "exact BIGINT moment sums (map-side combinable), float only at the final solve; HUGEINT sums cast back"),
    ("TS5", "Median/MAD robust anomaly profile", ["events_anomaly_mad"], "exact lower-median order statistics; robust twin of the z-score spike detector"),
    ("S19", "Right-to-be-forgotten cascade delete + audit", ["s18_delete_propagation"], "deletion list broadcasts into anti/left joins — fact tables never shuffle; bloom prefilter + S9 partition overwrite at petabyte scale"),
    ("DQ2", "Join-key skew profile (heavy hitters, ratio-to-mean)", ["dq_skew_profile"], "partial-agg key counts + TakeOrderedAndProject top-k; the decision input for AQE-skew vs salting (sk1/sk2)"),
    ("GR8", "Weakly-connected components (general graph)", ["graph_wcc_components"], "reuses the dedup hash-min CC operator on a sparse transaction subgraph; exact-reachability recursive-CTE oracle checks the fixpoint itself"),
    ("SK5", "CMS error gate (estimate vs exact, invariant pinned)", ["sketch_cms_error_gate"], "sketch twin of the ANN recall gates: realized overcount and the never-undercounts flag are oracle-checked values"),
    ("ST9", "Streaming CDC -> SCD2 incremental dimension maintenance", ["stream_cdc_scd2_apply"], "two availableNow ingests; per batch only touched keys re-derive; value oracle = the BATCH SCD2 build (incremental == rebuild proven)"),
]


def main() -> None:
    registry = all_queries()
    missing = [
        (op, q)
        for op, _, queries, _ in INVENTORY
        for q in queries
        if q not in registry
    ]
    if missing:
        raise SystemExit(f"COVERAGE references unknown queries: {missing}")

    covered_queries = {q for _, _, queries, _ in INVENTORY for q in queries}
    unlisted = sorted(set(registry) - covered_queries)

    lines = [
        "# COVERAGE — SURVEY.md §2 operator inventory -> implementation",
        "",
        "Generated by `tools/gen_coverage.py` (query names validated against",
        "the live registry; regenerate after adding operators).",
        "",
        f"Registered oracle-checked queries: **{len(registry)}** "
        f"({sum(1 for q in registry.values() if q.oracle)} with full-value DuckDB oracles).",
        "",
        "| ID | operator | oracle-checked queries | other coverage |",
        "|---|---|---|---|",
    ]
    for op, desc, queries, note in INVENTORY:
        qcell = ", ".join(f"`{q}`" for q in queries) or "—"
        lines.append(f"| {op} | {desc} | {qcell} | {note or '—'} |")
    if unlisted:
        lines += ["", "Additional registered queries not tied to a SURVEY ID:", ""]
        lines += [f"- `{q}`" for q in unlisted]
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "COVERAGE.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out}: {len(INVENTORY)} inventory rows, {len(registry)} queries")


if __name__ == "__main__":
    main()
