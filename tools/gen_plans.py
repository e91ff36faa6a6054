#!/usr/bin/env python
"""Regenerate PLANS.md: the physical plan of each headline query with a
note on why that plan is the one you want at 100 TB.

    python tools/gen_plans.py

Plans are captured at sf0.001 (shape is scale-invariant; AQE re-plans
sizes at runtime) on the package's self-configured session.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: query → one-paragraph scale rationale.
NOTES = {
    "q_agg_groupby": (
        "TPC-H Q1 shape. The shipdate filter reaches the Parquet scan "
        "(PushedFilters) and only the 7 needed columns are read; partial "
        "HashAggregate combines map-side so the shuffle carries one row "
        "per (task × group), not per input row."
    ),
    "q_join_broadcast": (
        "Dimension joins (region ⋈ nation ⋈ supplier) broadcast the small "
        "sides — the fact side never shuffles. At 1000 executors this is "
        "the difference between a metadata-sized broadcast and a full "
        "repartition of the big table."
    ),
    "q_join_asof": (
        "As-of join as union + single window with last(ignorenulls) "
        "carry-forward: one shuffle of |L|+|R| rows — the sort-merge lower "
        "bound — instead of the naive inequality-join explosion."
    ),
    "q_topk_per_group": (
        "row_number window over (custkey, price desc) then rn ≤ k: one "
        "shuffle on the group key; no global sort, no cross-group traffic."
    ),
    "q_sort_limit": (
        "Global top-k is TakeOrderedAndProject: each partition keeps k "
        "rows, the driver merges k × partitions — never a global sort."
    ),
    "q_dedup_near": (
        "MinHash+LSH: shingles hashed JVM-side, one vectorized Arrow stage "
        "emits B fixed-width band rows per doc (cached — note "
        "InMemoryRelation), buckets over MH_MAX_BUCKET are dropped by a "
        "window count that shares the self-join's shuffle key, and exact "
        "Jaccard runs on candidate pairs only. No O(n²) stage."
    ),
    "q_dedup_near_candidates": (
        "The deterministic LSH candidate stage alone (r5): identical "
        "banded plan as q_dedup_near steps 1–3 but stops at the bucket "
        "join — no shingle re-join, no Jaccard. Fixed-seed and "
        "partition-independent, so its row count is an exact reproducible "
        "pin for the otherwise approx-by-design near-dup pipeline."
    ),
    "q_win_running_distinct_daily": (
        "Day-grain scale primary for cumulative uniques (r5): "
        "groupBy(type,user)→min(day) partial-aggregates map-side and "
        "shuffles once on high-cardinality keys; the running sum then "
        "windows over |days|×|types| rows — thousands, not the corpus. "
        "Replaces the per-event window (parallelism = |types|) wherever "
        "day resolution suffices; the exact form stays as ground truth."
    ),
    "q_sim_topk": (
        "Brute-force cosine: the probe is a literal (broadcast-free), the "
        "dot product is a codegen'd fold per row, and TakeOrderedAndProject "
        "merges k rows per partition — a single pass over the corpus."
    ),
    "q_pack_sequences": (
        "Token-budget packing windows per shard (lang): hashpartitioning "
        "on the shard key, no SinglePartition anywhere — a global-ordered "
        "window would serialize the corpus through one task."
    ),
    "q_top_terms": (
        "Vocabulary shape: explode is map-side; the (lang, token) count "
        "partial-aggregates before its shuffle; the final top-k window "
        "sees one row per distinct term, not per occurrence."
    ),
    "q_split_hash": (
        "Deterministic split is a pure per-row projection — no exchange at "
        "all. At write time the split column partitions the output, so "
        "train/val/test reads are partition-pruned."
    ),
    "q_subquery_scalar": (
        "Correlated scalar subquery decorrelated by Catalyst into "
        "aggregate + join — one shuffle on the correlation key instead of "
        "|outer| subquery re-executions."
    ),
    "q_resample_locf": (
        "Hypertable gap-fill: hourly two-phase aggregate, per-user grid "
        "from explode(sequence) after a tiny min/max agg, grid↔hourly "
        "left join co-partitioned on (user, bucket), LOCF as a running "
        "last(ignorenulls) window. Every shuffle keys on user_id."
    ),
    "q_decontaminate": (
        "Benchmark-leakage detection: both splits shingle into distinct "
        "8-gram hashes JVM-side; the eval side is DF-pruned (grams in "
        ">50 eval docs can't witness contamination uniquely) in the same "
        "aggregation pass that builds the broadcast payload, and the "
        "train side — the 100 TB side — never shuffles: only matches "
        "reach the final two-phase pair count."
    ),
    "q_source_overlap": (
        "Pairwise source Jaccard from ONE groupBy(gram).collect_set "
        "shuffle; each gram's pair contributions expand locally from its "
        "sorted source set (≤ C(S,2) rows, S = dozens), replacing "
        "DISTINCT + gram-keyed self-join (3 full shuffles → 1)."
    ),
    "q_multimodal_decode": (
        "Real BMP decode across an Arrow boundary: synth mapInPandas → "
        "repartition → decode mapInPandas; everything after the decode "
        "is exact integer arithmetic (channel sums), so the oracle "
        "verifies stride/row-order handling analytically."
    ),
    "q_multimodal_png": (
        "Real PNG decode across an Arrow boundary (r11): stdlib-zlib "
        "DEFLATE + chunk CRCs + the full scanline-filter algebra — the "
        "encoder cycles filter types 0–4 per row, so the decoder must "
        "reconstruct Sub/Up/Average/Paeth correctly to match the "
        "analytic oracle's channel sums.  Same synth → repartition → "
        "decode mapInPandas topology as q_multimodal_decode."
    ),
    "q_agg_histogram_approx": (
        "Equi-depth at scale: approx_percentile is a mergeable sketch "
        "(partial+final, no global order); the 9 boundaries broadcast as "
        "one row and the bucket CASE folds into the scan — compare "
        "q_agg_histogram_eq's inherent Exchange SinglePartition."
    ),
    "q_agg_weighted_median_approx": (
        "Weighted median at scale (round-4 primary): a mergeable "
        "percentile sketch yields 63 global price boundaries (63 "
        "scalars to the driver — the kmeans broadcast-literal "
        "contract), bucket assignment is a codegen'd binary-search "
        "WHEN tree (log₂ comparisons/row; the interpreted aggregate() "
        "fold it replaced measured 2.8 s vs 1.0 s at sf0.1), then ONE "
        "partial-aggregated pass sums weight per (flag, bucket) — the "
        "shuffle carries |flags|×64 rows, never data rows, vs the "
        "exact twin's per-flag sort window whose parallelism is capped "
        "by the 3-value flag alphabet. The crossing bucket's [lo, hi] "
        "brackets the true weighted median (pytest-asserted)."
    ),
    "q_dedup_substring": (
        "Token-span exact dedup (round-5b): document text never leaves "
        "its scan partition — only (doc_id, pos, 8-byte xxhash64) rows "
        "shuffle. ONE exchange on the window hash feeds a count-window "
        "that tags corpus-wide occurrence counts in place (1.8× faster "
        "than groupBy + join-back, and linear — not quadratic — in the "
        "occurrences of a degenerate boilerplate shingle); one exchange "
        "on doc_id drives the interval-merge windows, whose partitioning "
        "the two downstream groupBys reuse (subset-satisfied, no further "
        "shuffle)."
    ),
    "q_zorder_cluster": (
        "Z-order clustering key: a 1-row min/max broadcast sets the "
        "grid; gridding + Morton interleave are integer-only codegen "
        "(shift/mask, no UDF, no float on the key path); the plan is "
        "map-only until the 64-group partial-aggregated summary. The "
        "same interleave drives write_zorder's repartitionByRange, "
        "whose per-file two-dimensional min/max tightness is asserted "
        "physically in tests/test_maintenance.py."
    ),
    "q_win_rolling_corr": (
        "Two stacked windows (lag + rolling corr) share ONE "
        "(user_id, event_type) exchange and sort. Re-keyed in round 4: "
        "keying by event_type alone put the whole corpus through 5 "
        "window partitions (measured 5.0× at 100× data); the composite "
        "key follows user cardinality, so parallelism grows with the "
        "data while frames stay ≤20 rows."
    ),
    "q_unigram_logprob": (
        "Corpus-LM quality score: vocab counts partial-aggregate before "
        "their shuffle; the token stream joins the vocab on the term key "
        "(AQE broadcasts while it fits) and reaggregates per doc — two "
        "data-sized shuffles total, floats rounded at source."
    ),
    "q_chunk_tokens": (
        "Sliding-window chunking is pure per-row expression work "
        "(transform(sequence) + posexplode + md5): zero Exchange; output "
        "rows ≈ tokens/stride, the linear factor any tokenizer pays."
    ),
    "q_join_asof_nearest": (
        "Bidirectional nearest as-of: union both sides, ONE exchange on "
        "the key, two in-partition sorts (asc scan carries the latest "
        "≤-candidate, desc scan the earliest ≥-candidate), row-local "
        "closer-pick — never an inequality-join explosion."
    ),
    "q_ewma": (
        "Recursive per-key statistic via FlatMapGroupsInPandas: one key "
        "exchange, pandas' C ewm scan inside each Arrow batch — the "
        "sanctioned Python escape hatch for recursions no window frame "
        "expresses, with zero per-row Python overhead."
    ),
    "q_tpch_q5": (
        "Six-way join: orders ⋈ lineitem is the only shuffle join; "
        "customer/supplier/nation/region all broadcast, and the "
        "c_nationkey = s_nationkey condition folds into the supplier "
        "broadcast join rather than costing its own shuffle."
    ),
    "q_join_dpp": (
        "Runtime partition pruning: the broadcast month-dim result feeds "
        "the fact scan's PartitionFilters (dynamicpruningexpression), so "
        "only matching month directories are listed and read — at 100 TB "
        "the fact scan is ~1/80 of the table, decided at run time."
    ),
    "q_sessionize": (
        "Gap-based sessionization: both windows and the session group-by "
        "share ONE hashpartitioning(user_id) Exchange (HashPartitioning "
        "on a key subset satisfies the group-by's clustering), so the "
        "whole operator costs a single shuffle of the events."
    ),
    "q_merge_upsert": (
        "Changelog compaction: WindowGroupLimit keeps each map task's "
        "per-key latest row before the shuffle — the Exchange carries "
        "~|keys| rows, not the full changelog."
    ),
    "q_repetition": (
        "Modal n-gram via a run-length fold over the sorted gram array: "
        "pure per-row expression work, zero Exchange — the naive "
        "explode → count → window shape shuffles every gram twice."
    ),
    "q_tfidf": (
        "TF counts explode once; document frequency re-aggregates the TF "
        "table (one row per (doc,term), never a second corpus pass); "
        "corpus size N joins as a broadcast single-row aggregate; top-k "
        "per doc is one window on doc_id."
    ),
    "q_embed_centroids": (
        "Vector averaging by posexplode to (label, pos, v) — a fixed "
        "64× expansion — with map-side partial_avg, emitted as scalar "
        "(label, pos, mean) rows. No driver-side math, no collect."
    ),
    "q_dedup_fuzzy": (
        "Entity resolution: distinct entities first (the big reduction), "
        "then a block-key equi-join (hash/sort-merge, never nested-loop "
        "all-pairs) with levenshtein evaluated only on candidates."
    ),
    "q_multimodal_frames": (
        "Frame sampling slices BinaryType payloads with substring (no "
        "decode, no Python): explode(sequence) fans 1→N inside the same "
        "stage, and each payload page is read once for all its frames."
    ),
    "q_join_interval": (
        "Interval-overlap join of two large sides via time-bin blocking: "
        "each interval explodes to its ≤2 bins, the join is an *equi* "
        "shuffle join on the bin key with the exact predicate post-join "
        "— never the O(|P|·|E|) BroadcastNestedLoopJoin the raw range "
        "predicate compiles to."
    ),
    "q_agg_unpivot": (
        "Unpivot compiles to Expand inside the scan stage (map-side 1→k "
        "emission); the only shuffles are the 4-group aggregate's "
        "partial→final exchange and a 4-row sort."
    ),
    "q_lateral_topk": (
        "LATERAL ORDER BY…LIMIT decorrelated by Catalyst into a window "
        "rank on the correlation key + join — one shuffle, not |outer| "
        "re-executions of the inner query."
    ),
    "q_entropy": (
        "Token entropy from a run-length fold over the sorted token "
        "array: Σ c·ln c and the distinct count in one per-row pass, "
        "zero Exchange — the relational shape shuffles every token in "
        "the corpus twice."
    ),
    "q_anomaly_mad": (
        "Robust outlier flags: two #group-row percentile passes, each "
        "joined back by broadcast — the events side streams and never "
        "shuffles for the flagging join."
    ),
    "q_tpch_q2": (
        "Correlated MIN subquery (cheapest regional supplier) "
        "decorrelated by Catalyst into a grouped MIN over the "
        "region-pruned price relation + join-back on the part key — the "
        "dimension chain broadcasts in both branches and the ps relation "
        "shuffles once on (partkey, suppkey), never per-outer-row."
    ),
    "q_tpch_q17": (
        "Correlated AVG threshold decorrelated to one per-part aggregate "
        "+ broadcast join-back; the brand filter prunes the probe side "
        "before the join, so the correlated branch touches lineitem "
        "exactly once."
    ),
    "q_tpch_q15": (
        "The revenue view is computed once; MAX collapses to a 1-row "
        "broadcast and the equality join-back selects the argmax "
        "supplier — two aggregates and zero extra fact-table passes."
    ),
    "q_tpch_q13": (
        "LEFT join with the exclusion predicate *in the join condition* "
        "(zero-order customers survive); the per-customer count shuffles "
        "on the join's own key so AQE reuses the partitioning, and the "
        "distribution re-aggregates on the tiny c_count domain."
    ),
    "q_check_constraints": (
        "Four data-quality rules in one job tree: PK duplicate mass "
        "(two-phase group-by), FK orphans (LeftAnti — never an outer "
        "join), not-null and range predicates pushed to the scans; each "
        "branch collapses to a 1-row aggregate before the 4-row union."
    ),
    "q_dedup_chunks": (
        "Sub-document dedup: chunks explode with positions, the "
        "corpus-wide first occurrence is a min-of-struct aggregate "
        "(two-phase — no window over the corpus), survivors regroup per "
        "document for ordered reassembly. Two key-partitioned shuffles "
        "total."
    ),
    "q_assoc_rules": (
        "Market-basket rules with Apriori pruning: the distinct basket "
        "relation persists once for its three consumers; items below "
        "min-support are pruned by broadcast semi-join BEFORE the pair "
        "self-join, so candidate generation never goes quadratic in the "
        "catalog; pair counts aggregate two-phase."
    ),
    "q_pagerank": (
        "Six synchronous supersteps, each an edges ⋈ ranks join + "
        "destination aggregate — the weighted edge table persists once "
        "and every round shuffles on the same node key; ranks re-persist "
        "and the previous round unpersists, so memory is O(V+E) at any "
        "iteration count. No collect, no driver-side graph state."
    ),
    "q_graph_bfs": (
        "Frontier BFS over a cached ADJACENCY-LIST table (built once; "
        "any node above the 10k degree cap hash-segments into multiple "
        "bounded (src, seg) rows, so hub skew can neither blow per-row "
        "memory nor serialize a hub's expansion): each hop is a "
        "SHUFFLED-HASH join that builds its hash table from the bounded "
        "FRONTIER and probes the cached, already-src-partitioned "
        "adjacency with zero exchange — the planner's default was to "
        "re-broadcast the whole graph every hop (r8 fix).  The settle "
        "anti-join checks only the LAST TWO frontiers (undirected ⇒ "
        "dist differs by ≤1 across an edge), so per-hop data motion is "
        "O(frontier), never O(V).  Every round's frontier is "
        "localCheckpoint-ed (the MLlib iterative-frame discipline): "
        "plain persist is defeated because the frontier's lineage "
        "embeds the adjacency table and self-join attribute dedup "
        "re-aliases it out of cache-canonical form.  The returned plan "
        "is just the final settled scan."
    ),
    "q_kmeans": (
        "Lloyd assignment is one vectorized Arrow batch pass (NumPy "
        "broadcast argmin vs the K collected centroids — K·DIM "
        "interpreted JVM folds measured 10× slower); the update is a "
        "single (cluster, pos) partial-agg shuffle and a K×DIM scalar "
        "collect per iteration, exactly MLlib's fit traffic."
    ),
    "q_skyline": (
        "Two-stage Pareto sweep: local skylines inside deterministic "
        "hash blocks (parallel windows — the data never global-sorts), "
        "then the same sweep over only the surviving candidates; exact "
        "because dominance is transitive."
    ),
    "q_bm25": (
        "Query-term filter runs scan-side so the exploded token stream "
        "shrinks to |query|·N before the (doc, term) count shuffle; the "
        "df table (|query| rows) broadcasts; the k-cut is "
        "TakeOrderedAndProject, and only the k survivors reach the "
        "single-partition rank window."
    ),
    "q_dedup_url": (
        "Canonicalization is pure per-row regex (codegen'd); the dedup "
        "is ONE hash aggregation keyed on the canonical URL with "
        "map-side partial counts — the q_dedup_exact shape."
    ),
    "q_event_transitions": (
        "One user_id exchange feeds the lead window; the (from, to) pair "
        "count is a two-phase hash aggregate over the tiny type "
        "alphabet; row-normalization rides a second window over the "
        "aggregate itself — no join back."
    ),
    "q_heavy_hitters": (
        "Two-pass Misra-Gries: pass 1 is a mapInPandas sketch emitting "
        "at most P·k candidate rows; pass 2 semi-joins the token stream "
        "against a BROADCAST of the candidates, so the count shuffle "
        "carries candidate keys only, never the vocabulary; the final "
        "threshold compares against a broadcast 1-row total — exact "
        "output at bounded memory."
    ),
    "q_cdc_apply": (
        "Changelog compaction as a PARTIAL aggregate: partial_max_by of "
        "a (op, ts, value) struct under the (ts, event_id) order runs "
        "map-side (SortAggregate — struct max_by is not hash-aggregable), "
        "so the single exchange carries one candidate row per key; "
        "tombstones drop after the final aggregate."
    ),
    "q_tpch_q21": (
        "Conditional-aggregation rewrite of EXISTS/NOT EXISTS: per-"
        "(order, supplier) late fold then per-order supplier counts — "
        "two partial-aggregated exchanges instead of semi/anti lineitem "
        "self-joins; supplier broadcast only for display columns."
    ),
    "q_attribution_channels": (
        "User-keyed equi-join with the 6h bound as a residual; the per-"
        "purchase credit window re-uses the join's exchange (purchase_id "
        "is a refinement of the join key side); the channel rollup is a "
        "4-row aggregate."
    ),
    "q_interval_concurrency": (
        "Sweep-line without a single-partition window (r6): one scan "
        "(explode emits both deltas), date-grain partial-agg pre-"
        "aggregation is the only data-volume stage, and everything after "
        "the persisted net table is calendar-bounded — per-year windows "
        "hold ≤366 rows of state and the cross-year offsets are a "
        "broadcast |years|² triangle join."
    ),
    "q_embed_covariance": (
        "One-pass exact Gram (r6): fixed-point int64 quantization makes "
        "row sums order-free; each partition's NumPy X.T@X fold emits "
        "D(D+1)/2+D+1 fixed-width rows regardless of row count, so the "
        "merge shuffle is sized by partition count, not data. The "
        "covariance division happens once per output cell."
    ),
    "q_dedup_semantic": (
        "SemDeDup (r6, cell counts rewritten r7): hashing-vectorizer "
        "counts (tfidf explode+count shape — the data-volume stage, "
        "persisted for its three consumers), exact integer rate-sign "
        "blocking against one broadcast totals row; cell populations "
        "partial-aggregate to ≤256 rows (groupBy(cell).count — never a "
        "whole-partition window over the vectors) and re-attach via a "
        "BROADCAST join that also drops oversized cells in the same "
        "map-only pass; then the within-cell quadratic phase as a "
        "BLOCK MATRIX product — every chunk pair of a cell is one "
        "FlatMapGroupsInPandas task running an exact-integer dgemm "
        "Gram.  The alternatives measured 163 s (pair-expanded "
        "self-join + interpreted fold) and 38.9 s (undistributed "
        "kernel) at sf1 vs 12.1 s for this plan."
    ),
    "q_curation_report": (
        "Quality × duplication cross-report (r6, copy counts rewritten "
        "r7): per-text copy counts partial-aggregate map-side "
        "(groupBy(text).count — the skewed text key no longer funnels "
        "through one window partition; AQE skew-join covers the "
        "join-back, null-safe on the text key), one co-keyed join "
        "back, then a ≤10-group partial aggregate. Fixed-width score "
        "buckets keep the plan free of the global-ntile total order."
    ),
    "q_sim_ann_ivf_partitioned": (
        "The WRITTEN IVF layout (r9; int8 codes r11): (vec_id, int8 "
        "code) partitionBy coarse-quantizer cell (spherical "
        "assignment on unit vectors, one file per cell) — no float "
        "vectors in the index, ~1/4 the probe bytes (pinned ≤1/3 by an "
        "encoder-matched A/B test).  A probe reads codes in the "
        "nprobe/cells probed directories — `cell IN (…)` is a "
        "PartitionFilter — keeps the top 4096 by the int8 cosine "
        "approximation (cosine is scale-invariant), and exact-"
        "re-ranks those from the source corpus (the FAISS IVF + "
        "refine-from-flat recipe; at 100 TB that fetch is an id-keyed "
        "point read).  Write-time and probe-time assignment share the "
        "cached fingerprint-keyed centroids and IVF_RERANK exceeds "
        "fixture candidate counts, so the top-10 EQUALS the in-memory "
        "q_sim_ann_ivf exactly (pytest-asserted).  This is "
        "the first-choice 100 TB deployment for near-noise corpora: "
        "data-adapted cells beat data-oblivious hyperplanes at equal "
        "read fraction; the r10 corpus-adaptive grid (min(4√n, n/8) "
        "cells, 25% probed) measured 0.8/0.8/1.0 across the decade."
    ),
    "q_sim_ann_ivf_batch": (
        "Batched multi-probe ANN (r13): M probes composed into ONE "
        "lazy plan — a single cell IN (…) PartitionFilter scan of the "
        "union of all probes' cells, per-(probe, candidate) int8 "
        "scores in one mapInPandas stage (each cell's rows scored "
        "only against the probes that probed it), a per-probe "
        "IVF_RERANK cut whose row_number predicate Catalyst pushes "
        "into WindowGroupLimit (every scan partition pre-prunes to "
        "its local top-4096 before the single probe_id shuffle), and "
        "one grouped exact re-rank: the ≤M·4096 survivor pairs "
        "broadcast against ONE source-corpus scan with the M probe "
        "vectors joined from an M-row broadcast.  No collect in the "
        "plan; at 100 TB the batch reads the corpus once for ALL "
        "probes where the serial form pays M point reads — 12-25× "
        "the threaded per-probe QPS at M=32 (SCALING.md)."
    ),
    "q_sim_knn_join_ivf": (
        "Distributed index-backed kNN JOIN (r13): the probe set is a "
        "DATAFRAME — a vectorized UDF routes each query row to its "
        "nprobe cells from the broadcast centroid table (executor-"
        "side, no driver trip), and the routed queries BUILD the "
        "BroadcastHashJoin hash on cell, so the corpus-sized layout "
        "side streams partition-local and never shuffles.  Vectorized "
        "per-pair code scores, per-query IVF_RERANK WindowGroupLimit "
        "cut, exact re-rank from the source corpus.  This is the "
        "dedup-against-index / eval-set-kNN plan at any query-set "
        "size: bounded batches broadcast; huge query sets drop the "
        "hint and AQE picks the shuffle join."
    ),
    "q_dedup_phash": (
        "Perceptual image dedup (r14): decode + 64-bit dHash in one "
        "vectorized mapInPandas stage, PERSISTED so every branch reads "
        "an InMemoryTableScan over ONE decode pass (VERDICT r14 #1, "
        "pinned by a decode-count accumulator).  Candidates (r15 "
        "rewrite, guide §8 — decide with small rows): equal "
        "fingerprints pair via one equi-join on the 64-bit hash "
        "(Hamming-0 by construction, no banding); the radius-2 "
        "137-mask multi-probe (the MIH recipe, recall ≡ hash recall "
        "at verify threshold 10) runs over DISTINCT hash values only "
        "— the Generate below explodes [phash] alone, no doc_id — so "
        "the exploded join side shrinks by the corpus duplication "
        "factor and never exceeds 548 rows per distinct image.  The "
        "Hamming verify (codegen bit_count of a XOR) runs BEFORE the "
        "pair .distinct(), keeping the multi-probe's mostly-reject "
        "candidates out of the exchange; doc ids re-attach with two "
        "hash-keyed joins after the decision, and there is no final "
        "global sort (the driver's value-hash is order-insensitive). "
        "NEVER all-pairs at any corpus size: bounded by bucket "
        "occupancy over distinct fingerprints."
    ),
    "q_multimodal_jpeg": (
        "Baseline JPEG decode (r13): same two-stage mapInPandas "
        "topology as the other codec legs — synthesize conformant "
        "SOF0 4:2:0 streams, cross an Arrow/shuffle boundary, then "
        "the full marker/Huffman/DC-prediction/dequant/IDCT/plane "
        "walk reduced to integer plane sums.  Per-row Python cost is "
        "the codec itself (vectorization is per Arrow batch); no "
        "exchange beyond the one repartition, so the 100 TB decode "
        "is scan-parallel exactly like production image pipelines."
    ),
    "q_embed_pca": (
        "PCA transform (r6, plan section added r8): the fit is the "
        "q_embed_covariance one-pass exact Gram (D²+D+1 fixed-width "
        "rows per partition, DECIMAL(38,0) merge) plus a 64×64 driver "
        "eigh — exactly MLlib's fit contract (K×D scalars cross the "
        "driver, never data).  The TRANSFORM shown here is the part "
        "that touches every row: the K×D component matrix ships to "
        "tasks as a closure constant and the projection is ONE "
        "vectorized Arrow batch matmul per partition (MapInPandas "
        "directly over the scan) — no exchange anywhere in the per-row "
        "plan, so the 100 TB transform is embarrassingly parallel scan "
        "work."
    ),
}


def main() -> None:
    from mysqldump_to_parquet_spark.session import get_spark

    import __spark_entry__ as entrypoint

    spark = get_spark(app_name="gen-plans", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    registry = entrypoint.queries()
    sf = "/root/testdata/sf0.001"

    out = [
        "# PLANS — headline physical plans, annotated",
        "",
        "Regenerate with `python tools/gen_plans.py`.  Each section shows the",
        "executed physical plan at sf0.001 (shape is what matters; AQE adapts",
        "sizes at runtime) and why that shape survives a 100 TB scale-up.",
        "",
    ]
    for name, note in NOTES.items():
        df = registry[name](spark, sf)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # strip per-node detail noise, keep the tree
        plan = re.sub(r", \[plan_id=\d+\]", "", plan)
        plan = "\n".join(
            ln.rstrip() for ln in plan.splitlines() if ln.strip()
        )
        out += [f"## {name}", "", note, "", "```", plan, "```", ""]
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(path, "w") as fh:
        fh.write("\n".join(out))
    print(f"wrote {path} ({len(NOTES)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
