package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.NamedExpression
import graft.ops.{Dedup, Graph, Staged, Vocab}
import graft.streaming.Replay
import graft.tools.Probe.render

/** The plan ledger: every declared query's formatted physical plan
  * ([[graft.tools.Probe.render]]) at sf0.1 on `local[32]`, one file per
  * query in `plans/current/<q>.txt`. A plan change is reviewed as
  * `git diff plans/current`.
  *
  *   sbt "runMain graft.PlanDump"
  *
  * PlanDump owns the directory and rewrites all of it, so a query that
  * is no longer declared loses its file. A query's note heads its file,
  * and its plan hooks follow its own plan: an iterative query's loop
  * round ([[graft.ops.Iterate.Loop.once]]; the declared plan is only a
  * checkpoint scan) and a streaming query's final micro-batch (the sink
  * read-back does not show the stateful operators).
  *
  * Queries render in name order inside one [[Staged.isolated]] tmpdir,
  * so every run builds every layout cold, and each query's expression
  * ids start on a fresh 2^20 boundary: Spark's distinct-aggregate
  * rewrite orders its Expand groups by hashes of those ids (q_profile),
  * so they must not depend on what ran before.
  */
object PlanDump {
  // One-line annotations naming each plan's load-bearing operators
  // (VERDICT r4 #4 — the plans nobody can eyeball from the code).
  private val notes = Map(
    "q_compact" ->
      ("file-count is DATA-DERIVED (Hadoop-FS byte listing / target bytes) before the plan exists; " +
        "the range exchange + in-partition sort gives each output file a disjoint sorted key range."),
    "q_incremental_dedup" ->
      ("every join is ShuffledHashJoin (both sides corpus-scale, nothing may broadcast); " +
        "the BoundedBucket aggregate emits only batch-involving pairs — no corpus×corpus work."),
    "q_stream_join" ->
      ("StreamingSymmetricHashJoin with watermark-bounded state on both sides; " +
        "StateStoreRestore/Save pairs around it are the per-micro-batch checkpoint protocol."),
    "q_stream_dedup" ->
      ("StreamingDeduplicateWithinWatermark holds one state row per live key and EVICTS on " +
        "watermark passage — the operator that keeps streaming dedup state bounded."),
    "q_dedup_cc_round" ->
      ("ONE pointer-jumping round (repeats until a round moves no label, O(log d) times, " +
        "each Materialize-checkpointed): neighbor-min HashAggregate, left propagation join, " +
        "jump self-join on the label key; the moved-label count is a CollectMetrics riding " +
        "the round's own checkpoint job."),
    "q_tpch_market" ->
      ("filter-first star shape: the ASIA nation⋈region dim broadcasts onto customer AND " +
        "supplier BEFORE the orderkey/custkey/suppkey fact shuffles; r_name=ASIA is pushed " +
        "to BOTH dim scans."),
    "q_curation_pipeline" ->
      ("the Scan ExistingRDD is the Materialize point: quality gate + dedup + split run once, " +
        "three consumers (test shingles, train probe, output) read the checkpoint; both decon " +
        "joins are ShuffledHashJoin — nothing corpus-sized may broadcast."),
    "q_manifest_skip" ->
      ("the scan's InMemoryFileIndex lists ONLY the manifest-selected files (file pruning " +
        "happened at plan time, driver-side); the residual ts filter still pushes to the scan."),
    "q_ann_pq" ->
      ("coarse assignment + 8 subspace code argmins + the ADC chain are ONE projection over " +
        "the scan — no join/shuffle until the top-R TakeOrderedAndProject; rerank touches R=20 rows."),
    "q_cooccur" ->
      ("within-basket pair generation is a ShuffledHashJoin on the basket key (never a cross " +
        "product); per-basket fan-out is |basket|² with basket size domain-bounded; top-25 is " +
        "TakeOrderedAndProject."),
    "q_triangles" ->
      ("oriented wedge-close: two ShuffledHashJoins keyed on the shared vertex / closing edge — " +
        "the a<b<c orientation enumerates each triangle once; no NestedLoop anywhere."),
    "q_pagerank_round" ->
      ("ONE PageRank iteration (repeats 5×; rounds 2, 4 and 5 Materialize-checkpointed): edges⋈ranks " +
        "ShuffledHashJoin on src (rank state must never broadcast), map-side-combined " +
        "contribution sum by dst, left join back onto the node set; all rank arithmetic is " +
        "BIGINT floor division."),
    "q_time_travel" ->
      ("the scan's InMemoryFileIndex lists ONLY the version-1 manifest files — the v2 append " +
        "sits in the same directory and is invisible; snapshot selection is driver-side " +
        "metadata planning, the data never moves."),
    "q_profile" ->
      ("one pass: Expand (×3 for the exact count-distincts) feeding a single partial+final " +
        "HashAggregate — the documented approx_count_distinct swap removes the Expand at 100 TB."),
    "q_anomaly" ->
      ("per-user count aggregate, then a 1-ROW stats aggregate broadcast back (BroadcastExchange " +
        "of one row) — the mean+2σ flag is a shuffle-free per-row decimal compare."),
    "q_window_percent" ->
      ("single keyed Window (partitioned by o_orderpriority) after one hash exchange — " +
        "percent_rank/cume_dist add no extra exchange over the rank family."),
    "q_pmi" ->
      ("min-support filter BEFORE the marginal joins; both marginal joins ShuffledHashJoin " +
        "(corpus-scaled dimension never broadcasts); the 1-row basket count is the only " +
        "BroadcastExchange; top-25 is TakeOrderedAndProject."),
    "q_knn_join" ->
      ("blocked-cartesian candidates into a rank window rewritten to WindowGroupLimit: each " +
        "partition keeps its local top-3 per source BEFORE the a_id exchange — 3n rows cross " +
        "the shuffle, never the n² candidate stream."),
    "q_semdedup" ->
      ("the Scan ExistingRDD is the Materialized assignment (argmin over the frozen codebook, " +
        "computed once for three consumers); the within-cluster pair join shuffles on the " +
        "cluster id (shuffle_hash); the CC loop's per-round shape is q_pagerank_round's " +
        "sibling — see q_dedup_cc_round."),
    "q_vacuum" ->
      ("the head read scans ONLY the 2 compacted files (the post-vacuum directory); the " +
        "compaction/vacuum themselves are driver-side metadata diffs + FS ops — no data-scale " +
        "compute appears in any plan."),
    "q_window_range" ->
      ("single keyed Window (partitioned by user_id, RANGE frame on integer epoch seconds) " +
        "after one hash exchange — the trailing-1-hour frame adds no exchange over ROWS frames."),
    "q_domain_filter" ->
      ("per-source stats via map-side-combined HashAggregate, then a BroadcastHashJoin " +
        "LeftAnti — the blocklist build side is bounded by the domain universe, the one " +
        "legitimately-broadcast join in the dedup/curation family."),
    "q_bpe_round" ->
      ("ONE delta-counting BPE round (repeats 5×, then a last argmax; corpus and counts " +
        "Materialize-checkpointed each round), as two plans: the corpus rewrite — ONE " +
        "join-free projection with the collected rule as replace LITERALS (its one Exchange " +
        "is the fanOut repartition of the corpus scan) — then the next argmax over the " +
        "updated counts: the initial map-side-combined pair-count HashAggregate, the " +
        "rewrite's graft_bpe_delta change-site deltas folded in, and a 1-row " +
        "TakeOrderedAndProject."),
    "q_mix_temperature" ->
      ("|langs|-row BroadcastExchanges (counts + 1-row min) onto a shuffle-free per-row " +
        "DECIMAL(38,0) compare — the cross-squared α=1/2 membership runs at scan speed."),
    "q_schema_evolution" ->
      ("ONE parquet scan whose ReadSchema already carries the mergeSchema-unioned footer " +
        "(value null-filled for old files at read time) feeding a partial+final HashAggregate — " +
        "schema evolution costs nothing at execution time."),
    "q_cms_terms" ->
      ("sketch build is a HashAggregate over the FIXED 8192-cell domain (partial_count " +
        "pre-collapses each partition's token stream before the exchange); the probe side " +
        "joins 40 rows against the BroadcastExchange of the constant-sized cell table."),
    "q_mm_audio" ->
      ("SerializeFromObject <- MapPartitions <- DeserializeToObject over the scan: the " +
        "synth+parse batch loop is one object stage, no shuffle until the output sort — the " +
        "same shape a Pandas-UDF decode stage plans."),
    "q_join_outer" ->
      ("both era aggregates shuffle ONCE on custkey and the full-outer SortMergeJoin reuses " +
        "that partitioning (Sort only, no exchange between agg and join) — 3 exchanges total " +
        "incl. the output sort; full outer has no broadcast form, so this is the minimal shape."),
    "q_rank_fusion" ->
      ("each retriever ends in TakeOrderedAndProject(limit=20) and its rank Window reads those " +
        "20 rows — a constant-size funnel, not a data-scale window; the query-token set is the " +
        "one BroadcastExchange; the fusion join is full-outer SMJ over two ≤20-row lists."),
    "q_sequence_assemble" ->
      ("ObjectHashAggregate (collect_list) behind ONE user_id exchange — trajectory order is " +
        "fixed by sort_array over (ts,event_id) structs INSIDE the per-key aggregate, so no " +
        "window and no global sort touches the corpus; per-key state = that user's events."),
    "q_nucleus_sources" ->
      ("the partial_count HashAggregate collapses the corpus to |lang×source| rows BEFORE " +
        "either window; both windows (running sum, per-lang total) are lang-keyed over that " +
        "collapsed relation — the corpus never meets a window."),
    "q_funnel" ->
      ("ONE user_id exchange feeds the ordered-fold Windows AND the closing HashAggregate " +
        "(partitioning reused, no second data-scale shuffle); the running min-over-frame " +
        "carries 'earliest view/valid click so far' past each event in one corpus pass."),
    "q_knn_join_ann" ->
      ("scale-adaptive ANN graph: probe/sub-bucket replication feeds a ShuffledHashJoin " +
        "keyed on (cluster, sub-bucket, salt) that BUILDS the n-row side; WindowGroupLimit " +
        "prunes to 3 rows/source before the final exchange; codebook + hyperplanes are " +
        "inlined literals — no broadcast anywhere."),
    "q_profile_approx" ->
      ("the whole corpus profile is ONE partial+final HashAggregate pair — no Expand " +
        "(q_profile's exact multi-distinct pays row x |distinct-aggs| fan-out; the HLL++ " +
        "swap removes it, which is the entire point at 100 TB)."),
    "q_merge_upsert" ->
      ("MERGE shuffle plan: two latest-wins window collapses and a full-outer SMJ all share " +
        "the (user_id, event_type) hash partitioning — 2 data-scale exchanges + the output " +
        "sort; no broadcast (both MERGE sides are table-scale)."),
    "q_prototype_prune" ->
      ("centroid assignment is a pure per-row argmin projection (codebook inlined as " +
        "literals); the only exchanges are the cluster-keyed rank window and the output " +
        "sort — vectors never shuffle, only (id, cid, dist) triples."),
    "q_change_feed" ->
      ("snapshot diff rides the q_merge_upsert shuffle plan: two latest-wins windows + " +
        "full-outer SMJ on one (user, type) partitioning, per-row CASE classification."),
    "q_ivm_join" ->
      ("all three delta-law terms are ShuffledHashJoins on the order key feeding one " +
        "union + map-side-combined aggregate — nothing broadcasts, so the maintenance " +
        "cost stays proportional to the delta under co-partitioned layouts."),
    "q_hilbert_key" ->
      ("8 generated rotation steps fold into one whole-stage-codegen projection chain " +
        "(CASE/div/% integer arithmetic, no UDF); the only exchange is the final " +
        "range-partitioned layout sort."),
    "q_label_prop_round" ->
      ("ONE synchronous LPA round (the declared query repeats it 4x behind Materialize): " +
        "edges-to-labels shuffle_hash join, map-side-combined (node,label) count, " +
        "node-keyed WindowGroupLimit argmax — label state never broadcasts."),
    "q_corr" ->
      ("all five moment sums + count ride ONE partial+final HashAggregate pair over a " +
        "3-column pruned scan; r/beta/alpha are per-group projections of the exact sums — " +
        "the same one-scan shape as builtin corr but with decimal-exact accumulation."),
    "q_chunk_overlap" ->
      ("tokenize + start-grid filter + Generate (explode) + slice/concat are one " +
        "projection pipeline over the scan — fan-out n/16 per doc, NO shuffle before " +
        "the output sort; the chunk stream feeds an embedding stage at scan speed."),
    "q_epoch_shuffle" ->
      ("explode(0..2) + the epoch-salted Knuth key are a per-row projection; the only " +
        "exchange is the (epoch, key) range sort — TeraSort shape, epochs land in " +
        "disjoint key ranges so writers stream epoch by epoch."),
    "q_ann_sq8" ->
      ("quantize→dequant→ADC is ONE projection chain over the scan (stat arrays and the " +
        "query vector inlined as literals); TakeOrderedAndProject(20) funnels into the " +
        "exact rerank's TakeOrderedAndProject(5) — no join, no data-scale exchange."),
    "q_deletion_vectors" ->
      ("plain pruned scan of the base files + BroadcastHashJoin LeftAnti on " +
        "(_metadata.file_path, row_index) against the O(deleted)-row DV table — the " +
        "merge-on-read apply; no data file is rewritten, nothing corpus-sized shuffles."),
    "q_jaccard" ->
      ("wedge-close ShuffledHashJoin on the shared neighbor (the q_triangles shape), " +
        "map-side-combined (a,b) count, LeftAnti against the edge set, two shuffled " +
        "degree joins; top-25 is TakeOrderedAndProject."),
    "q_scd2" ->
      ("lead + row_number evaluate in ONE Window node behind ONE (user_id, event_type) " +
        "hash exchange — the whole versioned history costs one keyed shuffle + a per-row " +
        "interval projection."),
    "q_khop_round" ->
      ("ONE BFS round (the declared query repeats 4x behind Materialize): edges⋈frontier " +
        "ShuffledHashJoin on src, map-side-combined expansion distinct, LeftAnti against " +
        "the visited set — work ∝ frontier-incident edges, never the visited set."),
    "q_dv_compact" ->
      ("the folded layout reads as a PLAIN 4-file scan — no DV anti join in the plan at " +
        "all: that is the paid merge-on-read debt (compare q_deletion_vectors); the " +
        "range-clustered rewrite happened once at maintenance time."),
    "q_graph_sample" ->
      ("per-parent neighbor caps are rank windows rewritten to WindowGroupLimit — each " +
        "partition keeps its local top-k per parent, so k·|frontier| rows cross the " +
        "exchange, never a celebrity node's full adjacency; both hop joins are " +
        "ShuffledHashJoin (the frontier never broadcasts at GNN scale)."),
    "q_negative_sampling" ->
      ("probes are a ×k explode projection; rank→doc resolution is ONE ShuffledHashJoin " +
        "on the target rank (both sides corpus-scale); the numbering underneath is the " +
        "two-pass range-partition + broadcast-offset scheme — no global row_number window; " +
        "the 1-row corpus count is the only broadcast."),
    "q_cogroup" ->
      ("the CoGroup node sits over two co-partitioned exchanges on the key (a full-outer " +
        "SMJ's shuffle shape) with PRE-PROJECTED inputs — Catalyst cannot prune through " +
        "the typed lambda, so the 2+1-column projections before groupByKey are load-bearing."),
    "q_text_normalize" ->
      ("two codegen'd regexp_replace passes + token counts in one projection over the " +
        "scan — the canonicalization every dedup/shingle stage assumes runs at scan " +
        "speed with no shuffle before the output sort."),
    "q_bm25" ->
      ("corpus stats collapse to ONE row (map-side-combined agg, the query's only " +
        "exchange) and rejoin as an IdentityBroadcastMode cross join; per-doc tf is an " +
        "array-filter projection (no Generate), ranking a top-20 TakeOrderedAndProject."),
    "q_inverted_index" ->
      ("the df top-12 is a TakeOrdered funnel broadcast back as the term filter; " +
        "row_number + lag share ONE term-keyed Window exchange and the (term, block_id) " +
        "groupBy is co-partitioned with it — no hash exchange ever carries block_id; " +
        "per-row width capped at 128 gaps by construction."),
    "q_preference_pairs" ->
      ("ONE map-side-combined HashAggregate (partial_max/partial_min on the packed " +
        "BIGINT) to |sources| rows; the 10^12 id-range guard is a projection-level " +
        "raise_error — no join, no window, no explode anywhere."),
    "q_weighted_sample" ->
      ("ZERO exchanges: the w-way replication stays inside one projection " +
        "(array_min over a generated sequence) and the only data movement is the " +
        "top-20 TakeOrderedAndProject funnel's k rows per partition."),
    "q_bm25_postings" ->
      ("the probe path reads INDEX files only (postings/dict/stats — documents.parquet " +
        "appears nowhere): term IN (...) pushes into the postings scan, candidates pivot " +
        "through ONE doc_id groupBy, df + corpus constants join as two 1-row identity " +
        "broadcasts, ranking is the top-20 TakeOrderedAndProject; work ∝ matching " +
        "postings, never corpus size — the scale twin of full-scan q_bm25."),
    "q_pit_join" ->
      ("the q_asof_join union-merge shape on the SCD-2 entity key: NO join node ever " +
        "exists (per-key probe × version fan-out is structurally impossible), history " +
        "and probes union into ONE entity-keyed window whose running last(value, " +
        "ignoreNulls) is the point-in-time feature; the interval-join ORACLE proves " +
        "the merge implements half-open [from, to) semantics incl. the zero-width tie."),
    "q_length_batching" ->
      ("ONE bucket-keyed window exchange carries the in-bucket numbering AND the " +
        "(bucket, batch_id) groupBy (subset clustering — exchange reuse); buckets " +
        "batch independently, no global numbering, so the operator is one shuffle + " +
        "the output sort at any corpus size."),
    "q_random_walk_round" ->
      ("ONE walk step (repeats WALK_STEPS times, Materialize-checkpointed): degree " +
        "lookup then single-rank adjacency probe, BOTH keyed shuffle_hash equi-joins " +
        "emitting exactly one row per walk — a celebrity node's adjacency is probed " +
        "at one rank, never fanned out and filtered; work ∝ |walks|, not degree."),
    "q_maxsim" ->
      ("all 16 sub-vector cosines (4 query × 4 doc slices) evaluate inside ONE " +
        "codegen projection over the scan — greatest + fixed-order sum, no explode, " +
        "no shuffle; ranking is the top-10 TakeOrderedAndProject funnel."),
    "q_gini_diversity" ->
      ("explode → (doc, term) count → per-doc moment agg: two map-side-combined hash " +
        "aggregations and nothing else — the diversity ratios are one IEEE division " +
        "each over exact BIGINT moments, computed in the final projection."),
    "q_feature_hash" ->
      ("the doc sample filter sits on the scan, the md5-bucket mapping is a per-row " +
        "projection, and the (doc, bucket) count is ONE map-side-combined hash agg — " +
        "output bounded at 64 rows per sampled doc, vocabulary-independent."),
    "q_expectations" ->
      ("the referential-integrity dim (SF-scaled customers) joins as ShuffledHashJoin " +
        "LeftOuter — NEVER broadcast (the q_pmi rule; an SF-scaled build side OOMs at " +
        "100×); all 16 audit sums ride ONE map-side-combined 1-row aggregate and the " +
        "5-rule explode fans out AFTER the corpus has collapsed to one row."),
    "q_kmv_overlap" ->
      ("both per-corpus bottom-64 rank windows rewrite to WindowGroupLimit (pinned — " +
        "with only 2 partition values the un-rewritten plan is a full distinct-shingle " +
        "sort on 2 tasks); the ≤128-row sketch materializes ONCE (Scan ExistingRDD) and " +
        "its three consumers never re-touch the corpus."),
    "q_kmv_merge" ->
      ("the per-(corpus, shard) sketches and their re-rank merge BOTH plan as " +
        "WindowGroupLimit — map tasks forward ≤64 rows per group at each level, the " +
        "mergeable-monoid build a 100 TB pass uses; the 3 pairwise comparisons read " +
        "one ≤192-row checkpoint, so corpus work happens exactly once."),
    "q_mlp_score" ->
      ("the hidden layer IS the aggregate: each exploded token row contributes " +
        "w1(bucket, j) to 8 partial sums, so the whole 64→8→1 network costs ONE " +
        "map-side-combined doc_id aggregate + a per-row output projection — no join, " +
        "no window, no vocabulary, weights are formula literals."),
    "q_maxsim_ann" ->
      ("ORACLE ANCHOR, not a scale path (demoted r10): computing the signatures " +
        "in-query costs ~2x the exact scan's arithmetic — its role is carrying the " +
        "shared approximation-boundary oracle for q_maxsim_postings. Routing filter " +
        "(4 facet signatures vs the driver-computed Hamming≤1 probe IN-list) and the " +
        "exact 16-cosine rescore fuse into ONE shuffle-free codegen projection; " +
        "top-10 is TakeOrderedAndProject — zero exchanges end to end."),
    "q_maxsim_postings" ->
      ("the probe reads the bucket-PARTITIONED materialized layout: the probe IN-list " +
        "is a PartitionFilters INSET on the bucket directory column — directory-level " +
        "pruning, embeddings.parquet absent from the plan; the only exchange is the " +
        "multi-facet-hit distinct, then rescore + top-10 TakeOrderedAndProject."),
    "q_stream_sample" ->
      ("per-micro-batch shape of the sample-on-ingest bottom-k: flatMapGroupsWithState " +
        "keyed on the shard carries O(shards·k) state rows at ANY stream length; the " +
        "drain sentinel gates Append-mode emission to the final batch, so the plan's " +
        "state store traffic is the sample, never the stream."),
    "q_importance_sample" ->
      ("the |langs|-row histogram and the 1-row total are the only BroadcastExchanges; " +
        "membership is an exact-BIGINT cross-multiplied per-row filter and the weight ONE " +
        "IEEE division — the corpus never shuffle-joins, the retarget is one scan."),
    "q_grpo_advantage" ->
      ("ONE user_id hash exchange carries the full-frame moment windows AND the " +
        "preference-rank window (same partitioning, one sort); the advantage is a per-row " +
        "IEEE chain over exact decimal moments — no join, no broadcast, no second " +
        "data-scale shuffle."),
    "q_hard_negatives" ->
      ("the corpus-scale shingle explode runs ONCE and checkpoints (r10 — note the " +
        "Scan ExistingRDD leaves and the absence of any parquet scan): the df " +
        "aggregate and BOTH match-join sides read the checkpoint. Hot-shingle df-cap " +
        "(≤64) enforced IN the plan, bounding join fan-out at 64 per shingle at any " +
        "corpus size; the match join is a shingle-keyed ShuffledHashJoin (both sides " +
        "corpus-derived — never broadcast, never cartesian); map-side-combined " +
        "(query, candidate) count; per-query top-3 is WindowGroupLimit."),
    "q_curriculum" ->
      ("shingle df aggregate's hash partitioning is REUSED by the rarity join (no second " +
        "shingle exchange); the phase/rank pass is the q_ntile two-pass closed form — " +
        "rangepartitioning(rarity, doc_id) + |partitions|-row broadcast offsets, never a " +
        "global ntile window; only 1-row/offsets stats broadcast."),
    "q_span_corruption" ->
      ("T5-style denoising-example construction is ONE per-row projection over the scan, " +
        "and since r10 the whole example builder is a single native codegen call " +
        "(graft_span_corrupt — no CodegenFallback HOFs left in the hot path); no join, " +
        "no window, no aggregate; the only exchange is the output sort."),
    "q_stream_pit" ->
      ("per-micro-batch shape of online feature serving: flatMapGroupsWithState keyed on " +
        "the entity holds ONE state row per live entity (the latest version) — probes " +
        "emit on arrival in Append mode, history is never buffered, no drain needed; " +
        "a year of traffic costs the same state as a day's."),
    "q_rerank" ->
      ("two-stage serving: the q_bm25 retrieval (shared code path) funnels to a " +
        "Materialized 20-row candidate set that BROADCASTS into the documents scan — " +
        "the q_mlp_score reranker (shared code path) then explodes and aggregates 20 " +
        "documents at any corpus size; rerank cost ∝ k, the corpus never re-shuffles."),
    "q_bm25_segments" ->
      ("BOTH segment postings scans carry the term IN pushdown and documents.parquet " +
        "is absent; per-term df and n_docs/Σdl combine at query time from the segment " +
        "dicts/stats (BM25 statistics are additive monoids) as tiny broadcasts — " +
        "absorbing a batch writes one new segment, the merge IS the query."),
    "q_bm25_merge" ->
      ("the segment-MERGE maintenance op probed: ONE merged postings scan (term IN " +
        "pushdown), neither documents.parquet nor the graft_bm25_segs_ layout appears — " +
        "the merge folded seg_a+seg_b by index algebra (postings concat, df/stats " +
        "re-sum) at cost ∝ index size, and the probe is byte-identical to " +
        "q_bm25_postings' single-segment plan."),
    "q_rouge" ->
      ("eval-metric computation at corpus scale: ONE map-side-combined (doc, token) " +
        "count aggregate; the clip join is keyed on (ref_id, token) so a hot token " +
        "fans out by pairing multiplicity (1), never corpus frequency; every join " +
        "side is corpus-scale and therefore SORT-MERGE — never broadcast, and never " +
        "a forced hash build either (the sf10 ledger OOM'd q_bleu's first cut: an " +
        "unbounded build side's per-task hash map is not flat in partition size); " +
        "p/r/f1 are single IEEE divisions of exact BIGINTs."),
    "q_bleu" ->
      ("the q_rouge shape with the gram stream TAGGED by n: ONE union'd " +
        "unigram∪bigram explode into ONE map-side-combined (doc, n, gram) count " +
        "aggregate; the clip join keys on (ref_id, n, gram) so hot grams fan out " +
        "by pairing multiplicity, never corpus frequency; all sides SORT-MERGE — " +
        "this query is why the rule exists: its first cut forced shuffle_hash and " +
        "the sf10 ledger OOM'd the ~45M-gram build side's per-task hash map; " +
        "bleu2 = sqrt of ONE exact-integer-product division (sqrt is " +
        "correctly-rounded IEEE, unlike exp/ln — the brevity exp stays with the " +
        "consumer, the query emits the exact len_ratio)."),
    "q_bm25_tiered" ->
      ("the tiered merge POLICY's post-state probed: exactly K=2 final_i postings " +
        "scans (term IN pushdown) through the IDENTICAL multi-segment combine path " +
        "as q_bm25_segments; documents.parquet AND both pre-policy layouts " +
        "(graft_bm25_multi_, graft_bm25_segs_) are absent — the driver loop folded " +
        "6 uneven segments smallest-pair-first by index algebra (merge_log.parquet " +
        "records each decision), so probe cost is bounded by K whatever the absorb " +
        "history was."),
    "q_bleu_multi" ->
      ("Papineni's multi-reference clip (min(tf_cand, MAX over refs tf_ref)): the " +
        "q_bleu gram machinery unchanged — ONE union'd tagged explode, ONE " +
        "map-side-combined (doc, n, gram) count; the ref-set key fans a gram by " +
        "k ≤ 3 reference multiplicity only and the per-candidate MAX (map-side " +
        "combined) collapses it back to one row per (cand, n, gram) BEFORE the " +
        "clip join; every corpus-scale side SORT-MERGE (the sf10 hash-build OOM " +
        "rule); r_eff = closest-ref-length-ties-shorter via ONE packed-BIGINT min."),
    "q_rouge_multi" ->
      ("Lin's multi-reference ROUGE best-match: pairwise clipped overlap over the " +
        "(cand, ref≤3) pair table — the q_rouge machinery with a ref-SET key, all " +
        "corpus-scale sides SORT-MERGE; the best pair per candidate is selected by " +
        "an EXACT integer f1 key ((clip·10^12) div (n_cand+n_ref), order-preserving " +
        "because distinct BIGINT-rational f1s with denominators ≤ 10^6 differ by " +
        "≥ 10^-12 — the bound enforced by a raise_error INSIDE the key's divisor) " +
        "through a WindowGroupLimit rank window moving ≤ k rows per candidate."),
    "q_ann_ivf_flat" ->
      ("the sf10 ledger's red-row fix: fixed-K IVF probe cost is Θ(nprobe·n/K), so " +
        "the probe is routed through the materialized (cid·2^b + sig) layout whose " +
        "key space grows ∝ n — the plan shows PartitionFilters INSET over the " +
        "driver-computed 3·(b+1) probe buckets, the embeddings corpus absent, zero " +
        "exchanges, TakeOrdered top-5; probed rows ≈ 192·(b+1) = O(log n) per query " +
        "at any corpus size.")
  )

  /** Plan hooks by owning query: a titled plan, rendered after the
    * owner's own.
    */
  private def hooks(spark: SparkSession, d: String): Map[String, Seq[(String, () => String)]] = {
    def plan(df: => DataFrame) = () => render(df.queryExecution)
    def lastBatch(q: String)(stream: => DataFrame) =
      Seq(s"$q: final micro-batch" ->
        (() => render(Replay.lastExecution(stream, s"${Staged.root}/plandump-$q"))))
    val glob = s"$d/events*.parquet"
    Map(
      "q_dedup_cc" -> Seq("q_dedup_cc_round" -> plan {
        val (pairs, nodes) = Dedup.nearDupGraph(spark, d)
        Dedup.ccLoop(pairs, nodes, identity).once
      }),
      "q_pagerank" -> Seq("q_pagerank_round" -> plan(Graph.pagerankLoop(spark, d, identity).once)),
      "q_bpe_train" -> Seq("q_bpe_round" -> (() => {
        val bpe = Vocab.bpeLoop(Vocab.seq0(spark, d), identity).once
        render(bpe.seq.queryExecution) + render(bpe.argmax.queryExecution)
      })),
      "q_label_prop" -> Seq("q_label_prop_round" -> plan(Graph.labelPropLoop(spark, d, identity).once)),
      "q_khop" -> Seq("q_khop_round" -> plan(Graph.khopLoop(spark, d, identity).once._1)),
      "q_random_walk" -> Seq("q_random_walk_round" -> plan(Graph.walkLoop(spark, d, identity).once._1)),
      "q_stream_join" -> lastBatch("q_stream_join")(Replay.rangeJoinStream(spark, glob)),
      "q_stream_dedup" -> lastBatch("q_stream_dedup")(Replay.dedupStream(Replay.readEvents(spark, glob))),
      "q_stream_sample" -> lastBatch("q_stream_sample")(Replay.sampleStream(Replay.weightedDocStream(
        spark, FsUtil.deleteOnExit(Replay.docSentinelDir(spark, d)).toString), 20).toDF()),
      "q_stream_pit" -> lastBatch("q_stream_pit") {
        import spark.implicits._
        Replay.pitStream(spark.readStream
          .schema("kind INT, event_id LONG, user_id LONG, tsu LONG, wk LONG, value DOUBLE")
          .option("maxFilesPerTrigger", "1")
          .parquet(s"${FsUtil.deleteOnExit(Replay.pitReplayDir(spark, d))}/*.parquet")
          .as[Replay.PitRow]).toDF()
      })
  }

  def main(args: Array[String]): Unit = Staged.isolated {
    val spark = Sessions.local(32)
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val d = "/root/testdata/sf0.1"
      val dir = Paths.get("plans/current")
      FsUtil.deleteRecursively(dir)
      Files.createDirectories(dir)
      val hooked = hooks(spark, d)
      def section(title: String, plan: String) =
        s"## $title\n\n" + notes.get(title).fold("")(n => s"> $n\n\n") + plan
      for (q <- SparkEntry.queries.keys.toSeq.sorted) {
        val next = NamedExpression.newExprId.id
        (next until ((next >> 20) + 1 << 20)).foreach(_ => NamedExpression.newExprId)
        val own = section(q, render(SparkEntry.queries(q)(spark, d).queryExecution))
        val text = hooked.getOrElse(q, Nil).foldLeft(own) { case (t, (title, plan)) =>
          t + "\n" + section(title, plan())
        }
        Files.writeString(dir.resolve(s"$q.txt"), text)
      }
      println(s"WROTE ${SparkEntry.queries.size} plans to $dir")
    } finally spark.stop()
  }
}
