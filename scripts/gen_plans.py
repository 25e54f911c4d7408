"""Regenerate PLANS.md: formatted physical plans of the headline
queries with the scale property each plan is evidence for.

Run: python scripts/gen_plans.py   (writes /root/repo/PLANS.md)

Expression ids (``#123``, ``[id=#456]``) are normalized to ``#N`` —
they depend on how many plans the session compiled before, so leaving
them raw would make regeneration non-reproducible.  The drift test
(tests/test_plans.py::test_plans_md_is_current) re-renders this file
in CI and fails on any difference, so plan regressions surface as a
failing test instead of a stale doc.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from mcp_server_vector_search_spark import registry  # noqa: E402
from mcp_server_vector_search_spark.plans.explain import formatted_plan  # noqa: E402
from mcp_server_vector_search_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.01"

SHOWCASE = [
    (
        "flagship_topk_cosine",
        "Top-k compiles to `TakeOrderedAndProject`: per-partition k-row "
        "heaps, driver merge — no global sort, no shuffle of scored rows. "
        "The scoring expression is JVM higher-order functions (no "
        "`EvalPython` operator anywhere).",
    ),
    (
        "filter_scan_pushdown",
        "`PushedFilters` reaches the parquet scan and `ReadSchema` carries "
        "only the projected columns — the scan reads a fraction of the "
        "table's bytes.",
    ),
    (
        "join_star_broadcast",
        "Every dimension joins as `BroadcastHashJoin`; the fact table is "
        "never exchanged.",
    ),
    (
        "join_bucketed_colocated",
        "Fact-fact sort-merge join over bucketed tables: the ONLY Exchange "
        "in the plan belongs to the final 5-group aggregate; "
        "`SelectedBucketsCount` shows the co-located reads.",
    ),
    (
        "q1_pricing_summary",
        "Partial (map-side) then final hash aggregation — the shuffle "
        "carries 6 groups, not the lineitem rows.",
    ),
    (
        "sink_partitioned_pruned_scan",
        "`PartitionFilters` prunes the partitioned layout to one "
        "`o_orderstatus` directory — the same mechanism that makes the IVF "
        "ANN index an index.",
    ),
    (
        "agg_salted_skew",
        "Two-phase salted aggregation: phase 1 groups on (key, salt) — "
        "16-way parallel even with 3 distinct keys — phase 2 merges tiny "
        "partials.",
    ),
    (
        "join_salted_skew",
        "Salted skew JOIN: the build side replicates 16× via explode, the "
        "probe side salts deterministically from l_orderkey, and the join "
        "key becomes (key, salt) — a 3-value hot key spreads over 48 "
        "hash slots instead of 3 straggler tasks.",
    ),
    (
        "q6_revenue_forecast",
        "All four Q6 predicates appear in `PushedFilters` (row-group "
        "min/max skipping) and `ReadSchema` carries only the 4 touched "
        "columns — the scan IS the query at 100 TB.",
    ),
    (
        "q10_returned_revenue",
        "Fact-fact shuffle on the order key only; nation broadcasts; the "
        "top-20 compiles to `TakeOrderedAndProject` — no global sort of "
        "the aggregate output.",
    ),
    (
        "vector_centroid_per_label",
        "The vector mean shuffles |labels|·dim GROUP partials, never "
        "vectors: posexplode feeds a partial/final HashAggregate pair; "
        "the output stays in exploded scalar form (640 group rows).",
    ),
    (
        "timeseries_resample_ffill",
        "The dense grid is generated JVM-side (sequence+explode, no "
        "driver loop), the series dimension broadcasts, and the forward "
        "fill is one Window sorted per series partition.",
    ),
    (
        "q2_min_cost_supplier",
        "Correlated `= (SELECT MIN ...)` decorrelated into a window over "
        "the aggregated offers: exactly one fact-table scan (4 tree scans "
        "total — fact + 3 broadcast dims); a join against a separately "
        "aggregated min table would scan lineitem twice.",
    ),
    (
        "q21_waiting_suppliers",
        "EXISTS and NOT EXISTS are LEFT SEMI / LEFT ANTI self-joins of "
        "the same order-enriched frame, co-partitioned on orderkey; the "
        "top-N is `TakeOrderedAndProject`, never a global sort.",
    ),
    (
        "ann_pq_topk",
        "Product-quantization ADC scan: the approximate score is an "
        "`aggregate` over 8 int codes indexing a literal M×K lookup "
        "table — no `EvalPython`, byte-scale I/O; only the top-100 pool "
        "is re-ranked with exact float math.",
    ),
    (
        "dedup_simhash_pairs",
        "Banded SimHash: candidate generation is a hash equi-join on "
        "(chunk, value) — no BroadcastNestedLoopJoin anywhere in the "
        "plan; the Hamming verify is a map-side filter on fingerprints "
        "carried through the join.",
    ),
    (
        "ann_ivf_topk",
        "IVF probe over the centroid_id-partitioned layout: "
        "`PartitionFilters` carries the nprobe IN-list, so non-probed "
        "cells are never read; scoring is JVM higher-order functions.",
    ),
    (
        "ann_lsh_topk",
        "SRP-LSH candidates: 20 bucket-equality predicates over literal "
        "hyperplane dot products, all map-side in one scan; only the "
        "final top-k exchanges rows.",
    ),
    (
        "q4_order_priority",
        "EXISTS plans as one LEFT SEMI join with an equi key plus "
        "non-equi residual; the order-date slice reaches `PushedFilters` "
        "before the join.",
    ),
    (
        "ann_ivfpq_topk",
        "IVF-PQ composition: `PartitionFilters` prunes to the nprobe "
        "cells AND the pruned scan reads only the byte-scale codes "
        "column; float vectors are read once, for the exact re-rank "
        "pool join.",
    ),
    (
        "hybrid_search_rrf",
        "Both retrieval legs cut their pools with "
        "`TakeOrderedAndProject` (per-partition heaps); BM25's "
        "term-frequency explode filters to the query terms before any "
        "shuffle, and corpus stats broadcast as 1-row builds.",
    ),
    (
        "chunk_documents_overlap",
        "Overlapping RAG chunking is row-local: tokenize once, explode "
        "stride offsets, slice from the same token array — zero "
        "Exchange operators in the whole plan.",
    ),
    (
        "pipeline_build_corpus",
        "The composed chunk → repetition gate → quality gate → split → "
        "dedup pipeline keeps exactly ONE Exchange (the final "
        "(split, fingerprint) aggregate): chunk explode, both gates and "
        "the split decision all run inside the scan stage.",
    ),
    (
        "ann_sq8_topk",
        "SQ8 weighted-code-sum scan: the approximate score is a zip_with "
        "over the int-code array against a literal weight table plus one "
        "base constant — byte-per-dimension I/O, no `EvalPython`; only "
        "the top-100 pool re-ranks with exact float math.",
    ),
    (
        "dedup_minhash_lsh",
        "Salted band-bucket self-join: the candidate join's Exchange "
        "partitions on (band, key, cell, pair) — a hot bucket spreads "
        "over cell-pair reduce keys instead of one straggler; the exact "
        "Jaccard verify joins token arrays by id onto candidates "
        "(AQE-sized build side).",
    ),
    (
        "sample_weighted_es",
        "Weighted sampling without replacement is one map-side key "
        "expression (md5 uniform + integer-exponent ES key) feeding "
        "`TakeOrderedAndProject` — no shuffle, no RNG, k rows collected.",
    ),
    (
        "join_bloom_runtime_filter",
        "`InjectRuntimeFilter` evidence: the probe-side lineitem scan "
        "carries a `might_contain(...)` filter over the filtered build "
        "side's `bloom_filter_agg` subquery — probe rows shed BEFORE "
        "the join's shuffle, the mechanism selective fact-fact joins "
        "rely on at 100 TB.",
    ),
    (
        "sample_global_shuffle",
        "The deterministic md5-key shuffle's bounded head compiles to "
        "`TakeOrderedAndProject`; the rank window then runs over 50 "
        "rows, not the corpus — no single-partition window anywhere.",
    ),
    (
        "text_redact_patterns",
        "The redaction sweep (regexp_count + regexp_replace over one "
        "alternation) runs entirely inside the scan's codegen stage; "
        "the only Exchange is the per-language audit aggregate.",
    ),
    (
        "ann_opq_topk",
        "OPQ's rotated-space ADC scan reads ONLY the codes column (the "
        "64×64 rotation ran once at index build); scoring is a zip_with "
        "against the literal LUT — no Python, no extra shuffle beyond "
        "the top-pool exchange.",
    ),
    (
        "join_dpp_partitioned",
        "Dynamic partition pruning: the fact scan carries a "
        "`dynamicpruning` subquery fed by the broadcast dim's filter — "
        "whole partitions shed before any bytes are read (the "
        "partition-level sibling of the bloom row filter).",
    ),
    (
        "ann_matryoshka_topk",
        "Matryoshka prefix retrieval: the coarse pool ranks a 32-dim "
        "slice via `TakeOrderedAndProject`; only the pool joins back "
        "to full vectors — nothing to train, and the scan cost drops "
        "with the prefix width.",
    ),
    (
        "recursive_year_spine",
        "Recursive CTE discipline: the recursion's frontier is ONE row "
        "per step (the next period); the corpus aggregate is a "
        "separate CTE joined after the spine — the recursion never "
        "re-scans the fact table.",
    ),
    (
        "agg_bitmap_distinct",
        "Exact distincts by bitmap: each (group, 32768-bit bucket) "
        "partial-aggregates its ids into ONE bitmap, so the shuffle "
        "carries ≤4 KB per bucket instead of every distinct id — then "
        "a sum of bit counts.",
    ),
    (
        "agg_market_basket_pairs",
        "Pair co-occurrence without a second fact shuffle: one "
        "basket-keyed aggregate builds each order's part array; the "
        "i<j pair fan-out is a row-local array expression, bounded by "
        "items-per-basket².",
    ),
    (
        "ann_graph_topk",
        "Graph-routed ANN probe: the beam-search-selected cells arrive "
        "as a `PartitionFilters` IN-list on node_id — the navigable-"
        "graph descent replaces the flat nearest-landmark scan for "
        "probe selection (O(degree × beam) sims on the driver); the "
        "pruned scan + exact top-k are the IVF family's machinery.",
    ),
    (
        "engine_search_ann",
        "The serving path over the index: the probe scan carries the "
        "centroid_id partition filter (only nprobe cells read) and the "
        "docs join probes the k result ids via broadcast.",
    ),
    (
        "ann_filtered_topk",
        "Filter-DURING-search: the metadata predicate sits in the same "
        "scan filter as the probe IN-list, so `PartitionFilters` prunes "
        "to nprobe cells AND `PushedFilters` carries the label predicate "
        "to the parquet reader — never post-filtering a too-short "
        "result list.",
    ),
    (
        "ann_delete_tombstone",
        "Deletes without index rewrite: the tombstone set enters as a "
        "`BroadcastHashJoin ... LeftAnti` against the pruned cell scan — "
        "the 100 TB index files are untouched and the k results are "
        "delete-free by construction.",
    ),
    (
        "maxsim_multivector",
        "Late interaction in one pass: every per-query-vector sim is a "
        "JVM expression in a single map-side projection; the per-doc "
        "maxes are ONE hash aggregate (map-side combined) and the head "
        "is `TakeOrderedAndProject` — one shuffle total, no Python.",
    ),
    (
        "semdedup_prune",
        "SemDeDup's complexity bound in the plan: the pair join's equi-"
        "key is `centroid_id`, so candidate pairs exist only within a "
        "cluster — Σ|cluster|² work, not O(n²); the assignment pass is "
        "a map-side JVM expression over the centroid literals.",
    ),
    (
        "ann_hnsw_topk",
        "Layered-HNSW-routed probe: the greedy upper-layer descent + "
        "layer-0 beam select the cells driver-side (O(degree × layers + "
        "degree × beam) sims), and the scan half is IDENTICAL to the "
        "flat NSW family — the probe list arrives as a "
        "`PartitionFilters` IN-list on the shared node_id-partitioned "
        "layout.  The hierarchy changes the navigation cost curve "
        "(logarithmic-ish descent vs the flat walk — measured in "
        "tests/test_scale_stress.py), never the plan.",
    ),
    (
        "ann_filtered_adaptive",
        "Starvation recovery: each escalation rung is a pruned COUNT "
        "over the widened probe set; the final plan is the same filter-"
        "during-search shape as `ann_filtered_topk` — the predicate "
        "evaluates in the codegen Filter directly over the columnar "
        "batch (its `IsNotNull` residue is pushed), probe list as "
        "`PartitionFilters`.  At the fixture SF the registered "
        "predicate starves nprobe=10 and one doubling clamps to all 16 "
        "cells, returning exactly k.",
    ),
    (
        "ann_index_maintenance_plan",
        "Decision cost is O(n_centroids), never O(corpus): two map-side "
        "assignment passes (the literal-matrix transform, no Python), "
        "two 16-row hash aggregates, a 16-row full outer join, and a "
        "window over 16 rows.  The corpus-scale work — both assignment "
        "scans — is whole-stage codegen with map-side partial "
        "aggregation; everything after the first exchange operates on "
        "n_centroids rows.",
    ),
    (
        "multimodal_jpeg_roundtrip",
        "Real-JPEG certificate: payload encode and decode are Arrow-"
        "batched `MapInPandas` stages over a `spread()` scan (CPU-bound "
        "codec work parallelized across cores); everything after the "
        "pixel-hash emission is JVM-side.  The oracle predicts every "
        "decoded pixel through the integer transform chain WITHOUT "
        "seeing the bitstream, so the hash match certifies the "
        "marker/Huffman/stuffing entropy layer.",
    ),
    (
        "multimodal_phash_mixed",
        "Mixed-format image path: one `MapInPandas` slot encodes "
        "PNG/PGM/JPEG by doc_id%3, a second decodes via magic-byte "
        "dispatch and emits the DCT pHash; the duplicate count is a "
        "JVM window over the hash.  At 100 TB the same two slots hold "
        "PIL/libvips + a `binaryFile` corpus read with identical "
        "partitioning.",
    ),
    (
        "multimodal_binaryfile_scan",
        "The production read seam: a REAL corpus directory scanned via "
        "`Scan binaryFile` (path + content), doc ids parsed JVM-side, "
        "and ONE Arrow-batched `MapInPandas` slot doing the magic-byte "
        "dispatch + codec work — at 100 TB the scan parallelizes by "
        "file and the decode slot holds PIL/libvips unchanged.",
    ),
    (
        "ann_hnsw_upsert",
        "Insert-without-rebuild: new routing nodes join the layered "
        "structure by descending search (never a rebuild), only the "
        "cells the new nodes win are rewritten (delete-and-append), "
        "and the query's pruned scan reads the POST-upsert probe set — "
        "`PartitionFilters` carries new node ids, proving the top-k "
        "touches the rewritten cells.",
    ),
    (
        "ann_filtered_planned",
        "Selectivity-planned filtered search: ONE single-cell aggregate "
        "prices the predicate, integer arithmetic jumps straight to the "
        "escalated probe set (one rung, asserted in tests), and the "
        "final plan is the same filter-during-search shape — predicate "
        "in the codegen Filter over the pruned scan.",
    ),
    (
        "ann_assign_gemm_cells",
        "The Arrow-GEMM assignment scale path: ONE `ArrowEvalPython` "
        "stage (batched `V @ C.T` argmax — FAISS's coarse-assignment "
        "shape) replaces k × dim interpreted HOF lambda ops per row, "
        "followed by a map-side partial/final hash aggregate over "
        "n_cells rows.  This is the path that assigns at production "
        "cell counts; the 16-cell fixture queries keep the pure-JVM "
        "literal expression.",
    ),
    (
        "streaming_tumbling_counts",
        "A genuine MicroBatchExecution inside the correctness gate: "
        "file-stream source → stateful hash aggregate (complete mode) → "
        "memory sink.  The executed micro-batch plan below shows the "
        "`StateStoreRestore`/`StateStoreSave` pair around the partial/"
        "merge aggregates and the single REQUIRED_BY_STATEFUL_OPERATOR "
        "exchange; state is one row per (window, event_type) — bounded "
        "by the time span, not the corpus.  The aggregation expression "
        "is byte-identical to the batch `window_tumbling_events` plan.",
    ),
    (
        "text_bm25_topk",
        "BM25 ranked retrieval stays O(matching postings): the token "
        "explode is filtered to the query's terms BEFORE either "
        "aggregate (the `tok IN (...)` filter sits under the explode "
        "projection), the ≤|query|-row df side enters the scoring join "
        "as `BroadcastHashJoin`, and the final top-k is "
        "`TakeOrderedAndProject` — corpus tokens never shuffle.",
    ),
    (
        "semantic_search_dim1536",
        "The reference's native dimension end-to-end: ONE "
        "`ArrowEvalPython` stage embeds each document batch at 1536 "
        "dims, the dim-check and sequential-fold cosine are JVM "
        "expressions over the UDF output, and the top-k is "
        "`TakeOrderedAndProject` — widening the vector 24x changes "
        "bytes-per-row, not the plan shape.",
    ),
    (
        "cdc_table_diff",
        "The change feed is ONE full-outer sort-merge join on the key; "
        "the post-join filter drops unchanged rows so the output is "
        "proportional to churn, and prices compare as DECIMAL so float "
        "representation can't fake an update.",
    ),
    (
        "pipeline_export_packed",
        "Three export stages in one lazy plan: the Gopher keep gate "
        "evaluates inside the scan stage (codegen, no explode), the "
        "exact-text dedup window is the first Exchange (text key), the "
        "per-shard packing window the second (source key) — two "
        "shuffles for the whole filter→dedup→pack job.",
    ),
    (
        "topk_search_after",
        "Keyset pagination: the page-2 boundary predicate is a plain "
        "Filter above the scan (no OFFSET machinery), and both pages "
        "compile to `TakeOrderedAndProject` — page cost stays O(k) per "
        "partition at any depth.",
    ),
    (
        "scalar_variant_functions",
        "Spark 4 VARIANT in one codegen'd Project: `parse_json` encodes "
        "the binary variant once, every `variant_get` path extraction "
        "is a JVM expression over that encoding — no `EvalPython`, no "
        "per-access text re-parse.  At 100 TB semi-structured access is "
        "shredded binary reads, not O(fields) string scans per row.",
    ),
    (
        "sql_pipe_syntax",
        "The `|>` pipe form is pure syntax: the plan below is the same "
        "pushed filter + partial/final hash aggregate a classic "
        "GROUP BY compiles to — `PushedFilters` reaches the scan and "
        "the shuffle carries 5 groups.  Generated queries can compose "
        "by string append without re-planning cost.",
    ),
    (
        "dedup_substring_spans_fp",
        "The scale form of the span operator (r14): gram FINGERPRINTS "
        "build entirely map-side (`MapInPandas` over the spread scan — "
        "no token explode, no doc_id window, no gram string), so the "
        "only wide exchange in the whole plan is the 20-byte "
        "(h, doc_id, s) hash partitioning under the frame-less "
        "min≠max window; the islands merge then touches only matched "
        "spans.  Compare with the exact form's three wide stages "
        "below.",
    ),
    (
        "graph_hits_integer",
        "Exact-integer HITS: the edge table scans once from its "
        "localCheckpoint (`Scan ExistingRDD`); each hub<->authority "
        "alternation is one key-partitioned exchange (dst-keyed for "
        "authority, src-keyed for hub) with map-side BIGINT partials — "
        "no float normalization stage anywhere.",
    ),
    (
        "graph_triangle_count",
        "Degree-ordered triangle census: the wedge and closure joins "
        "are plain hash joins on vertex ids; the (degree, id) "
        "orientation that bounds the wedge fan-out is a projection, "
        "not an extra shuffle.  Wedge count measured to grow exactly "
        "10.0x on 10x edges at the stress tier.",
    ),
    (
        "multimodal_audio_fingerprint_dedup",
        "Audio fingerprint dedup: ONE Arrow decode pass (the WAV "
        "front end), a per-doc <=6-row window for the bit pack, and a "
        "bucket-key hash aggregate — the fingerprint never leaves the "
        "JVM once packed.",
    ),
    (
        "mix_interleave_roundrobin",
        "Training-order interleave: one source-keyed window (the "
        "in-source md5 rank), one global range-partitioned sort (the "
        "total order IS the product), and a single-pass adjacency "
        "certificate over the ordered stream.",
    ),
    (
        "graph_pagerank_incremental",
        "Rolling PageRank: the old graph's 4 stored rounds and the 2 "
        "warm-started incremental rounds all read LOCAL-CHECKPOINTED "
        "edge/degree tables (`Scan ExistingRDD` — derived once, never "
        "re-derived per round), and every round is one dst-keyed "
        "exchange with map-side BIGINT partial sums.",
    ),
    (
        "quality_classifier_calibration",
        "The 19-threshold confusion sweep is ONE scan: thresholds ride "
        "an in-row `Generate explode` of a literal array (no join "
        "against a threshold table), and the rollup is a 19-key hash "
        "aggregate with partial aggregation pushed map-side.",
    ),
    (
        "curation_url_dedup_snapshots",
        "Cross-snapshot URL dedup: both snapshots' URL derivations and "
        "the canonicalization are scan-side projections under one "
        "union; the plan pays exactly one exchange for the "
        "canonical_url window (groups ≤ 2 rows) plus the per-domain "
        "rollup.",
    ),
    (
        "dedup_substring_spans",
        "Repeated-substring spans without suffix arrays: grams build as "
        "WINDOW LEADs over the exploded tokens (JVM `Window` operator — "
        "no interpreted higher-order lambdas, the trap the 100x tier "
        "caught), the cross-doc gram count is a partial/final hash "
        "aggregate, and the overlap merge is a per-doc gaps-and-islands "
        "window over only the MATCHED spans — never `EvalPython`, never "
        "a cartesian pair stage.",
    ),
    (
        "ann_hnsw_dim1536",
        "The graph-descent ANN at the reference's 1536 dims: the probe "
        "set chosen by the layered walk arrives as a PartitionFilters "
        "entry over the cached cell-partitioned layout (r14: the "
        "corpus embed + GEMM assignment moved to the build-once "
        "artifact, so the query plan is a pruned scan + "
        "`TakeOrderedAndProject` with NO Python stage) — the descent "
        "(driver-side, bounded node set) never appears in the "
        "distributed plan, exactly like HNSW's resident upper layers "
        "at 100 TB.",
    ),
    (
        "engine_search_warm_cache",
        "The warm serve path: the prompt embeds driver-side (the "
        "reference's client-side embed, server.py:78 — no Spark job), "
        "the corpus scan is `InMemoryTableScan` over the build-once "
        "cache, and the top-k is `TakeOrderedAndProject` — a warm "
        "search is ONE bounded job, measured at 0.2-0.3 s.",
    ),
    (
        "ann_range_search",
        "Range (radius) search over the IVF layout: the "
        "triangle-inequality feasible cells arrive as "
        "`PartitionFilters: INSET …` on the parquet scan — cells whose "
        "best possible score misses the threshold are never read — and "
        "the only shuffle is the final sort of MATCHES (the "
        "threshold-bounded result), never corpus rows.  Lossless by "
        "construction: the driver row hash-matches the full-scan "
        "oracle.",
    ),
    (
        "streaming_session_window",
        "Stateful session windows under real StreamExecution: the "
        "executed micro-batch plan shows the `SessionWindowStateStore` "
        "restore/save pair around the gap-merge aggregate — "
        "data-dependent session boundaries merging ACROSS micro-batches "
        "(the input is split into three files so the merge path "
        "actually runs).  Complete-mode sink hash-matches the "
        "gaps-and-islands batch oracle.",
    ),
    (
        "cluster_kmeans_lloyd",
        "Distributed Lloyd k-means, final pass: the scan is pruned to "
        "the embedding column, the nearest-centroid argmin is an "
        "`array_min` over literal-centroid structs INSIDE the project "
        "(no join, no Python), and the per-cluster micro-unit sums "
        "reduce map-side before ONE K-key exchange — the shuffle "
        "carries K x (dim+2) longs per executor regardless of table "
        "size.  The trailing `Generate` posexplodes the K x dim census "
        "into driver-hashable scalar rows (output contract, SURVEY "
        "§5.2).  Exact BIGINT micro-units make the iteration "
        "order-free, so the DuckDB oracle replays all three rounds in "
        "pure SQL and hash-matches bit for bit.",
    ),
    (
        "linalg_power_iteration",
        "Distributed power iteration, final pass: per-row dot against "
        "the literal iterate folds inside whole-stage codegen, and the "
        "Rayleigh/count aggregate reduces to ONE row through a single "
        "exchange (the treeAggregate shape) — per-iteration driver "
        "traffic is 64 longs.  Max-norm normalization keeps the "
        "normalizer an order-free integer MAX, which is what lets the "
        "oracle replay every mat-vec round in SQL.",
    ),
    (
        "cluster_kmeans_gemm_census",
        "The SAME Lloyd census at k=16: assignment dispatches to the "
        "Arrow-GEMM device (`ArrowEvalPython` feeding the aggregate — "
        "a BLAS shortlist plus exact-winner integer recompute, 21x "
        "faster than the interpreted HOF fold at the 200k-vector "
        "stress tier) while the exchange still carries only K-key "
        "micro-sums.  The DuckDB oracle hash-certifies the device "
        "bit-for-bit against the pure-SQL replay.",
    ),
    (
        "mine_hard_negatives",
        "Contrastive hard-negative mining: the query set broadcasts "
        "(`BroadcastNestedLoopJoin` with the label-inequality predicate "
        "applied at the join, before any shuffle), corpus scoring is "
        "map-side, and the per-query rank prunes to k rows per "
        "partition via `WindowGroupLimit` — the mining pass shuffles "
        "(query_id, vec_id, score) triples only, never the vectors.",
    ),
    (
        "join_interval_overlap_bucketed",
        "Interval overlap join with NO equi-key: bucket decomposition "
        "(`Generate` explodes each window to the time buckets it "
        "touches) restores a hash-joinable key, so the pair join is "
        "hash-keyed on bucket with the overlap predicate as its "
        "residual — never a `CartesianProduct`.  At this SF the "
        "exploded side fits a `BroadcastHashJoin`; at scale both sides "
        "shuffle on bucket into a sort-merge join, work is Σ "
        "per-bucket concurrency², and each overlapping pair is counted "
        "once in the bucket owning greatest(s_a, s_b), so no distinct "
        "pass follows the join.",
    ),
    (
        "stats_ab_welch",
        "Welch A/B t-test as ONE corpus pass: the sufficient statistics "
        "(n, Σmilli, Σmilli² per variant) collapse in a 5-key partial+"
        "final `HashAggregate` pair, so the only exchange is 5 rows of "
        "longs no matter the corpus size; every t/df/mean is a final "
        "projection over those exact integers, and both engines execute "
        "the IDENTICAL SQL text so the rounded doubles hash bit-for-bit.",
    ),
    (
        "tokenizer_bpe_encode",
        "BPE tokenization with the production cost split: the 8-deep "
        "literal-replace encode chain runs once per DISTINCT word (one "
        "whole-stage-codegen projection over the vocabulary), and the "
        "corpus-scale stage is a word-keyed `BroadcastHashJoin` + per-doc "
        "hash agg — encode work is O(vocab), corpus bytes never shuffle.",
    ),
    (
        "mix_token_budget",
        "Token-budget apportionment: the corpus contributes one map-side-"
        "combined hash agg (per-source token totals); the largest-"
        "remainder algebra runs in `Window` operators over the "
        "n_sources-row frame — a single-partition window is exactly "
        "right here BECAUSE the frame is bounded by the source count, "
        "never by the corpus.",
    ),
    (
        "agg_kmv_jaccard_certificate",
        "KMV bottom-k sketches: each sketch is a "
        "`TakeOrderedAndProject` (per-partition bottom-K, K-row "
        "merge), the exact side is one groupBy flag pass + one global "
        "aggregate, and the single-row sketch/exact combine is a "
        "bounded 1x1-row join — the shuffle never carries corpus "
        "rows, only K hashes per shard.",
    ),
    (
        "knn_graph_exact",
        "Exact kNN graph: the block-shuffled SUMMA grid — two "
        "`Exchange hashpartitioning(blk, other)` sides feeding ONE "
        "`FlatMapCoGroupsInPandas` dgemm per block pair (no "
        "`CartesianProduct` anywhere) — emits per-block partial top-k "
        "only (k·NB candidates per row, not n), and the single a_id "
        "window merges partials under the same strict total order the "
        "kernel pruned with.",
    ),
    (
        "text_entropy_chars",
        "Char unigram/bigram entropy never leaves codegen: gram "
        "censuses are partial→final hash aggregates keyed "
        "(doc_id, gram), the p·log₂p folds key on doc_id, and there is "
        "no Python stage and no single-partition operator — a "
        "pathological giant document is AQE-splittable skew, not a "
        "cliff.",
    ),
    (
        "batch_padding_audit",
        "ONE `Exchange hashpartitioning(source, bucket_cap)` feeds the "
        "batching window and BOTH rollups — the groupBy keys are "
        "supersets of the window partitioning, so Catalyst re-uses the "
        "exchange instead of re-shuffling.",
    ),
    (
        "dedup_minhash_weighted",
        "Weighted-Jaccard MinHash: signatures are 16 MIN aggregates "
        "over the exploded tf table (pure codegen — no HOF fold, and "
        "ReuseExchange shares the tf scan with the verify), candidates "
        "come from the salted banded bucket join, and every verify "
        "join's build side is the bounded candidate set via explicit "
        "`broadcast()` — the corpus-sized tf/total tables only ever "
        "stream (the 100x tier caught statistics choosing the 3M-row "
        "tf broadcast and OOMing the driver).",
    ),
    (
        "agg_weighted_quantiles",
        "Exact token-weighted quantiles: the running-sum window, the "
        "frame-less total window, and the final rollup all share one "
        "source-keyed exchange; the quantile compare is pure integer "
        "arithmetic (num/den), so no float crosses an engine boundary.",
    ),
]

# Queries whose evidence is the EXECUTED streaming micro-batch plan,
# not a batch DataFrame explain (a memory-sink table explains as a
# bare LocalTableScan).  Rendered via StreamingQuery.explainInternal.
STREAMING_PLAN = {"streaming_tumbling_counts", "streaming_session_window"}

# The warm-serve showcase: the registered query returns a
# localCheckpoint (its plan is a bare checkpoint scan), so the evidence
# plan is the facade's search_df over its materialized corpus directly.
ENGINE_PLAN = {"engine_search_warm_cache"}


def engine_warm_plan(spark, name: str) -> str:
    assert name == "engine_search_warm_cache"
    from mcp_server_vector_search_spark.engine import (
        SparkVectorSearch,
        corpus_from_documents,
    )
    from mcp_server_vector_search_spark.operators.ann import PROMPT_TEXT
    from mcp_server_vector_search_spark.sources.tables import load_table

    engine = SparkVectorSearch(corpus_from_documents(load_table(spark, SF, "documents")))
    try:
        return formatted_plan(engine.search_df(PROMPT_TEXT))
    finally:
        engine.close()


HEADER = """# PLANS — physical-plan evidence for the scale design

Auto-generated by `scripts/gen_plans.py` against sf0.01 (plan shapes are
scale-invariant; AQE leaves `isFinalPlan=false` until execution).  Each
section states the property the plan is evidence for; the same
properties are asserted programmatically in `tests/test_plans.py`.
"""


_EXPR_ID = re.compile(r"#\d+")
# Bucketed catalog tables are named after their artifact-store key, which
# fingerprints the source files (mtime included), so it is host-specific.
_STORE_KEY = re.compile(r"(bucketed_[a-z]+_)[0-9a-f]{16}")

# Run-specific tokens in executed streaming plans (checkpoint tmpdirs,
# runIds, JVM object hashes, plan ids) — normalized so two renders of
# the same plan compare equal in the drift test.
_STREAM_NOISE = [
    (re.compile(r"file:/[^\s\],]*"), "file:/..."),
    (re.compile(r"runId = [0-9a-f-]+"), "runId = N"),
    (re.compile(r"@[0-9a-f]+"), "@N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    # partition counts follow spark.sql.shuffle.partitions, which
    # differs between the pytest session (8) and gen_plans (32)
    (re.compile(r"numPartitions = \d+"), "numPartitions = N"),
    (
        re.compile(r", \d+\), REQUIRED_BY_STATEFUL_OPERATOR"),
        ", N), REQUIRED_BY_STATEFUL_OPERATOR",
    ),
    # session-window operators print the shuffle-partition count as a
    # bare positional argument (`true, 32, [user_id...`)
    (re.compile(r"(true|false), \d+, \["), r"\1, N, ["),
]


def streaming_plan(spark, name: str) -> str:
    """Executed micro-batch physical plan for a streaming showcase
    query, with run-specific noise normalized (scratch paths included:
    checkpoints and staged sources print as ``file:/...``)."""
    from mcp_server_vector_search_spark.cache import release_scratch
    from mcp_server_vector_search_spark.streaming.ingest import (
        run_session_stream,
        run_tumbling_stream,
    )

    if name == "streaming_tumbling_counts":
        q = run_tumbling_stream(spark, SF)
    else:
        assert name == "streaming_session_window"
        q = run_session_stream(spark, SF)
    plan = q._jsq.explainInternal(False)
    release_scratch()
    for pat, repl in _STREAM_NOISE:
        plan = pat.sub(repl, plan)
    return plan


def render_plans(spark) -> str:
    """The full PLANS.md content — shared by main() and the CI drift
    test so the committed doc provably matches the current plans."""
    registry.load_all_operators()
    parts = [HEADER]
    evidence_keys = (
        "PartitionFilters",
        "PushedFilters",
        "ReadSchema",
        "SelectedBucketsCount",
        "might_contain",
    )
    for name, why in SHOWCASE:
        if name in STREAMING_PLAN:
            plan = streaming_plan(spark, name)
            section = f"\n## {name}\n\n{why}\n\n```\n{plan.strip()}\n```\n"
            parts.append(_EXPR_ID.sub("#N", section))
            continue
        if name in ENGINE_PLAN:
            plan = engine_warm_plan(spark, name)
        else:
            plan = formatted_plan(registry.QUERIES[name](spark, SF))
        tree = plan.split("\n\n")[0]
        # keep the scan-detail lines the section's claim rests on
        details = [
            ln.strip()
            for ln in plan.splitlines()
            if any(k in ln for k in evidence_keys)
        ]
        detail_block = ("\n" + "\n".join(details)) if details else ""
        section = f"\n## {name}\n\n{why}\n\n```\n{tree.strip()}{detail_block}\n```\n"
        parts.append(_STORE_KEY.sub(r"\1KEY", _EXPR_ID.sub("#N", section)))
    return "".join(parts)


def main() -> None:
    spark = get_spark(app_name="gen_plans")
    Path(__file__).resolve().parent.parent.joinpath("PLANS.md").write_text(
        render_plans(spark)
    )
    print("PLANS.md written")
    spark.stop()


if __name__ == "__main__":
    main()
