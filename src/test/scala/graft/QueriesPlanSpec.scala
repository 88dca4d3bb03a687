package graft

import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan shape regressions: the properties that make these
  * queries scale are plan properties (pushdown, pruning, join strategy,
  * top-k operator) — assert them so a refactor can't silently trade a
  * broadcast for a nested loop or un-push a filter.
  */
class QueriesPlanSpec extends SparkSpec {

  /** Formats a declared query's physical plan AND records the name in
    * the run ledger — the final meta test proves the recorded set
    * equals [[QueriesPlanSpec.pinned]], so the companion list can
    * neither under- nor over-claim coverage (InventorySpec audits
    * every declared query against that list).
    */
  private def plan(name: String): String = {
    QueriesPlanSpec.seen += name
    SparkEntry.queries(name)(spark, sf0001)
      .queryExecution
      .explainString(ExplainMode.fromString("formatted"))
  }

  /** For tests that pin a query's load-bearing shape through a helper
    * (per-round bodies, stream-gate batch twins, sketch builders)
    * rather than the declared query's own plan.
    */
  private def pinsViaHelper(names: String*): Unit =
    QueriesPlanSpec.seen ++= names

  /** Shuffle-exchange count, robust to tree-branch glyphs: count the
    * formatted-mode detail headers `(N) Exchange` — exactly one per
    * node, wherever it sits in the tree, never `BroadcastExchange` /
    * `ReusedExchange` (their headers carry the longer name). Assertions
    * on this are UPPER bounds: fewer shuffles is always acceptable; the
    * property pinned is "no NEW exchange appeared".
    */
  private def shuffles(p: String): Int =
    p.linesIterator.count(_.matches(""".*\(\d+\) Exchange\s*"""))

  /** A bucket-layout probe opens only its probed `bucket=` directories:
    * every scan of `layout` lists `bucket=` dirs in its Location, never
    * the bare layout root (whose read runs partition discovery over
    * every bucket directory of the layout).
    */
  private def assertListsBucketDirs(p: String, layout: String): Unit = {
    val locs = p.linesIterator.filter(l => l.contains("Location:") && l.contains(layout)).toSeq
    assert(locs.nonEmpty, s"no $layout scan in the probe plan")
    for (l <- locs)
      assert(l.contains("/bucket="),
        s"the probe lists the bare layout root, not its probed bucket dirs: ${l.trim}")
  }

  test("q_filter: predicates pushed to the parquet scan, columns pruned") {
    val p = plan("q_filter")
    assert(p.contains("PushedFilters: [IsNotNull(l_discount)"))
    assert(p.contains("GreaterThanOrEqual(l_discount,0.05)"))
    // 5-column projection reaches the scan — no full-width read
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double,l_extendedprice:double,l_discount:double>"))
  }

  test("q_join_broadcast / q_join_multi: dimensions broadcast") {
    assert(plan("q_join_broadcast").contains("BroadcastHashJoin"))
    val multi = plan("q_join_multi")
    assert(multi.contains("BroadcastHashJoin"))
    assert(!multi.contains("SortMergeJoin") && !multi.contains("NestedLoop"))
  }

  test("q_semi / q_anti: semi-join operators, not materialized joins") {
    assert(plan("q_semi").contains("LeftSemi"))
    assert(plan("q_anti").contains("LeftAnti"))
  }

  test("q_topk plans TakeOrderedAndProject (no global sort)") {
    assert(plan("q_topk").contains("TakeOrderedAndProject"))
  }

  test("q_asof_join: union-merge shape — no join node at all") {
    val p = plan("q_asof_join")
    // the bounded as-of is union + running window: any Join node means
    // the per-key fan-out (probe × every earlier build row) is back
    assert(!p.contains("Join"), "as-of regressed to a join (per-key fan-out)")
    assert(p.contains("Window"), "running-window carry-forward missing")
    assert(p.contains("Union"), "union-merge input missing")
    assert(!p.contains("BroadcastExchange"),
      "nothing here may broadcast when events is the 100 TB fact")
  }

  test("q_partition_prune: one-day filter reaches the scan as a PartitionFilter") {
    val p = plan("q_partition_prune")
    assert(p.contains("PartitionFilters: ["), "partitioned scan missing")
    assert(p.replaceAll("\\s+", " ").contains("day#") && p.contains("2024-01-15"),
      "day = 2024-01-15 must prune at the directory level, not post-scan")
    // the data filter list must NOT carry the day predicate — pruning
    // happens before any row is read
    val dataFilters = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(!dataFilters.contains("day"), "day predicate leaked into data filters")
  }

  test("q_join_bucketed: the join is exchange-free (bucket-local sort-merge)") {
    val p = plan("q_join_bucketed")
    assert(p.contains("SortMergeJoin"), "bucketed join must be a merge join")
    assert(p.contains("Bucketed: true"), "scan is not reading bucketed output")
    // only the final agg + sort may exchange; join inputs must not
    // (unbucketed inputs would add two more)
    val exchanges = shuffles(p)
    assert(exchanges <= 2, s"join inputs are shuffling ($exchanges exchanges)")
  }

  test("q_join_salted: stays a SORT-MERGE shuffle join — broadcast defeats salting, hash-build OOMs at scale") {
    val p = plan("q_join_salted")
    assert(p.contains("SortMergeJoin"),
      "salted join must sort-merge on (key, salt); that IS the skew spread with flat task memory")
    assert(!p.contains("BroadcastHashJoin"),
      "AQE broadcast of the S×-replicated side: 25 s single-threaded build at sf1")
    assert(!p.contains("ShuffledHashJoin"),
      "S×-replicated data-scale build side in a hash join — OOM'd at sf10 (r12 ledger)")
  }

  test("q_range_join: bucket equi-key join, fact side never broadcast") {
    val p = plan("q_range_join")
    assert(p.contains("ShuffledHashJoin"), "band join must shuffle on the bucketed key")
    assert(p.contains("a_bkt"), "minute-bucket blocking key missing from the plan")
    assert(!p.contains("BroadcastExchange"),
      "broadcasting the exploded events fact dies at 100 TB")
  }

  test("dedup candidates: bounded bucket agg, remaining joins shuffle, no corpus broadcast") {
    for (q <- Seq("q_dedup_ngram", "q_dedup_minhash", "q_dedup_simhash")) {
      val p = plan(q)
      // candidate generation is ONE aggregation (BoundedBucket), not a
      // band/shingle self-join. For ngram the aggregation runs inside
      // the bucket checkpoint, so its visible plan starts at the
      // checkpoint scan instead.
      if (q == "q_dedup_ngram")
        assert(p.contains("Scan ExistingRDD"), s"$q lost the bucket checkpoint")
      else
        assert(p.contains("ObjectHashAggregate"), s"$q lost the bounded bucket aggregation")
      // size/signature/set joins stay shuffle joins — those frames are
      // corpus-sized and must never be broadcast build sides
      assert(p.contains("ShuffledHashJoin"), s"$q lost its shuffle_hash hint")
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    }
  }

  test("q_decontaminate: a pair-free semi join — no bucket agg, no cartesian, no broadcast") {
    val p = plan("q_decontaminate")
    assert(p.contains("LeftSemi"), "contamination check must be a semi join")
    assert(!p.contains("ObjectHashAggregate"),
      "no BoundedBucket machinery — a semi join needs no pair caps")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastHashJoin"),
      "the train shingle set is corpus-sized — never a broadcast side")
  }

  test("q_repetition / q_pii_redact: pure per-row projections — no shuffle but the output sort") {
    for (q <- Seq("q_repetition", "q_pii_redact")) {
      val p = plan(q)
      assert(!p.contains("hashpartitioning"), s"$q grew a shuffle — must stay map-side")
      assert(!p.contains("Generate"), s"$q must not explode (array ops are per-row)")
      assert(p.contains("rangepartitioning"), s"$q output sort missing")
    }
  }

  test("q_length_histogram: partial aggregation before the one shuffle") {
    val p = plan("q_length_histogram")
    assert(p.contains("HashAggregate"))
    assert(p.contains("partial_count"), "map-side combine missing")
  }

  test("q_global_rownum: no global row_number window; offsets broadcast") {
    val p = plan("q_global_rownum")
    assert(!p.contains("row_number"),
      "global row numbering regressed to a one-partition window")
    assert(p.contains("monotonically_increasing_id"), "two-pass id encoding missing")
    assert(p.contains("BroadcastHashJoin"),
      "the |partitions|-row offsets side must broadcast")
  }

  test("q_decontaminate_bloom: codegen probe — no Scala UDF in the train scan") {
    val p = plan("q_decontaminate_bloom")
    assert(p.contains("might_contain"),
      "native BloomFilterMightContain probe missing from the train-side projection")
    assert(!p.contains("UDF"),
      "Bloom probe regressed to an interpreted Scala UDF (breaks whole-stage codegen)")
  }

  test("q_ntile: no data-scale window — two-pass rank + broadcast offsets") {
    val p = plan("q_ntile")
    // the r4 scale-killer: ntile(4) OVER (ORDER BY …) = one-partition window
    assert(!p.contains("ntile"),
      "q_ntile regressed to a one-partition global ntile window")
    assert(p.contains("monotonically_increasing_id"), "two-pass id encoding missing")
    assert(p.contains("BroadcastHashJoin"),
      "the |partitions|-row offsets side must broadcast")
  }

  test("q_incremental_dedup: all joins shuffled — every side is corpus-scale") {
    val p = plan("q_incremental_dedup")
    assert(p.contains("ShuffledHashJoin"), "candidate join must shuffle")
    assert(!p.contains("BroadcastHashJoin") && !p.contains("BroadcastNestedLoopJoin")
      && !p.contains("CartesianProduct"),
      "corpus/batch streams grow with the data — nothing here may broadcast")
  }

  test("q_orc_roundtrip: filter pushed into the ORC scan, props column pruned") {
    val p = plan("q_orc_roundtrip")
    assert(p.contains("PushedFilters") && p.contains("EqualTo(event_type,click)"),
      "event_type predicate must reach the ORC scan")
    assert(!p.contains("props"), "unreferenced column read through the ORC scan")
  }

  test("q_mix_balance: group-dim sides broadcast, fact side never shuffle-joined") {
    val p = plan("q_mix_balance")
    assert(p.contains("BroadcastHashJoin"),
      "the |langs|-row histogram must broadcast against the scan")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "the corpus side must not shuffle for a per-row membership filter")
  }

  test("q_dedup_survivor: corpus-sized quality join shuffled, never broadcast") {
    val p = plan("q_dedup_survivor")
    assert(p.contains("ShuffledHashJoin"), "labels⋈quality must shuffle")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("q_substring_dedup: keyed shuffles only — no cartesian, corpus sides never broadcast") {
    val p = plan("q_substring_dedup")
    assert(p.contains("ShuffledHashJoin"), "gram join-back must shuffle on the hash key")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastHashJoin"),
      "every side here grows with the corpus — nothing may broadcast")
  }

  test("q_quality_classifier: the vocab join is the one correct broadcast") {
    val p = plan("q_quality_classifier")
    assert(p.contains("BroadcastHashJoin Inner"), "model-sized vocab must broadcast")
    // ...but the corpus-sized score join-back must not: the outer join
    // shuffles (a broadcast LeftOuter here would ship every score row
    // to every executor at 100 TB)
    assert(p.contains("ShuffledHashJoin LeftOuter"),
      "score join-back must shuffle; scores grow with the corpus")
    // partial aggregation before the doc-key shuffle (map-side combine)
    assert("HashAggregate".r.findAllIn(p).size >= 2)
  }

  test("q_cosine_near_blocked: equi shuffle join on block pairs, no broadcast") {
    val p = plan("q_cosine_near_blocked")
    assert(p.contains("ShuffledHashJoin"), "block-pair join must shuffle")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "the blocked form exists to kill the all-pairs broadcast plan")
  }

  test("q_ann_ivf: centroid assignment is a per-row expression (no Window)") {
    val p = plan("q_ann_ivf")
    assert(!p.contains("Window"), "assignment regressed to the N×K window shuffle")
  }

  test("q_cosine_near: norms computed pre-join (single scan-side sqrt)") {
    val p = plan("q_cosine_near")
    // the per-pair predicate divides by precomputed norms — no SQRT in
    // the join condition itself
    val joinCond = p.linesIterator.filter(_.contains("Join condition")).mkString
    assert(!joinCond.toLowerCase.contains("sqrt"), joinCond)
  }

  test("q_agg_hash: partial aggregation before the shuffle") {
    val p = plan("q_agg_hash")
    // two HashAggregates (partial + final) around one Exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2)
    assert(p.contains("Exchange"))
  }

  test("q_sample_hash: map-side hash filter, pruned scan, sort is the only exchange") {
    val p = plan("q_sample_hash")
    // membership is a per-row projection — any aggregate/window means a
    // shuffle snuck into a filter
    assert(!p.contains("HashAggregate") && !p.contains("Window"))
    assert(p.contains("ReadSchema: struct<doc_id:bigint,lang:string,n_chars:bigint>"),
      "sample must prune the scan to its 3 output columns (no text reads)")
    val exchanges = shuffles(p)
    assert(exchanges <= 1, s"only the final sort may exchange ($exchanges)")
  }

  test("q_sample_per_key: rank filter plans as WindowGroupLimit (bounded buffers)") {
    val p = plan("q_sample_per_key")
    assert(p.contains("WindowGroupLimit"),
      "rn<=3 must push into the window operator (k-row buffers per key)")
  }

  test("q_interleave: total-order sort is range-partitioned, no global window") {
    val p = plan("q_interleave")
    assert(!p.contains("Window"), "a global row_number would serialize the corpus")
    assert(p.contains("rangepartitioning"),
      "training-order sort must be the distributed TeraSort shape")
  }

  test("q_pivot: conditional aggregate with partial agg, scan pruned to 2 columns") {
    val p = plan("q_pivot")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "pivot lost map-side combine")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,lang:string>"),
      "pivot reads only (doc_id, lang)")
  }

  test("q_pack: one scan, shard shuffle + final sort only") {
    val p = plan("q_pack")
    // one corpus scan (the old tfidf-style eager-N mistake would add one);
    // count detail headers — the tree section repeats the node name
    assert(p.linesIterator.count(_.matches("""\(\d+\) Scan parquet\s*""")) == 1)
    val exchanges = shuffles(p)
    assert(exchanges <= 2, s"expected shard-window + final-sort exchanges only, got $exchanges")
    assert(p.contains("Window"), "per-shard running sum missing")
  }

  test("q_zorder_key: pure expression layout key (no join/agg/window before the sort)") {
    val p = plan("q_zorder_key")
    assert(!p.contains("Join") && !p.contains("HashAggregate") && !p.contains("Window"))
    assert(p.contains("rangepartitioning"), "layout emission is a range-partitioned sort")
  }

  test("tpch composites: pushdown, dim broadcast, top-k operator, no nested loop") {
    val ship = plan("q_tpch_shipping")
    assert(ship.contains("TakeOrderedAndProject"), "Q3 top-10 must be heap+merge, not global sort")
    assert(ship.contains("EqualTo(c_mktsegment,BUILDING)"), "segment filter not pushed")
    assert(ship.contains("LessThan(o_orderdate,"), "orderdate cutoff not pushed")
    assert(!ship.contains("NestedLoop"))

    val market = plan("q_tpch_market")
    assert(market.contains("BroadcastHashJoin"), "nation/region dims must broadcast")
    assert(market.contains("EqualTo(r_name,ASIA)"), "region filter not pushed")
    // the ASIA prune must land scan-side on BOTH dim copies (customer
    // and supplier pre-filter) — filter-first star shape
    assert("EqualTo\\(r_name,ASIA\\)".r.findAllIn(market).size >= 2,
      "dimension filter-first pruning lost on one side")
    assert(!market.contains("NestedLoop"), "6-way join degenerated to a cartesian")

    val ret = plan("q_tpch_returns")
    assert(ret.contains("TakeOrderedAndProject"))
    assert(ret.contains("EqualTo(l_returnflag,R)"), "returnflag filter not pushed")
    assert(!ret.contains("NestedLoop"))
  }

  test("q_curation_pipeline: decon joins stay shuffled, no nested loop") {
    val p = plan("q_curation_pipeline")
    // the test-shingle set and the contaminated-id set are
    // corpus-proportional: a BroadcastExchange here OOMs at 100 TB
    assert(!p.contains("BroadcastExchange"), "decon side must not broadcast")
    assert(!p.contains("NestedLoop"))
    // dedup survivors feed three consumers off ONE materialization
    assert(p.contains("Scan ExistingRDD") || p.contains("TableCacheQueryStage") ||
      p.contains("InMemoryTableScan"), "post-dedup materialization missing")
  }

  test("q_cooccur / q_triangles: keyed equi joins only — no cartesian, no broadcast of fact sides") {
    val co = plan("q_cooccur")
    assert(co.contains("ShuffledHashJoin"), "within-basket self-join must be a keyed shuffle join")
    assert(!co.contains("NestedLoop") && !co.contains("CartesianProduct"),
      "pair generation degenerated to a cross product")
    assert(co.contains("TakeOrderedAndProject"), "top-25 must not be a global sort")
    val tri = plan("q_triangles")
    assert(!tri.contains("NestedLoop") && !tri.contains("CartesianProduct"),
      "wedge-close joins degenerated to a cross product")
    assert(tri.contains("ShuffledHashJoin"), "edge-state joins must stay shuffled")
  }

  test("q_knn_join: WindowGroupLimit prunes candidates before the exchange") {
    val p = plan("q_knn_join")
    assert(p.contains("WindowGroupLimit"),
      "per-source top-k must prune partition-locally before the shuffle")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      "blocked candidate join degenerated to a cross product")
    assert(p.contains("ShuffledHashJoin"), "block-pair join must stay shuffled")
  }

  test("q_knn_join_ann: salted probe join, WindowGroupLimit, codebook stays an expression") {
    val p = plan("q_knn_join_ann")
    assert(p.contains("WindowGroupLimit"),
      "per-source top-k must prune partition-locally before the shuffle")
    // probe→member candidate join shuffles on (cluster, salt); the
    // codebook is an inlined literal — there is NOTHING to broadcast
    assert(p.contains("ShuffledHashJoin"), "candidate join must stay shuffled")
    assert(!p.contains("BroadcastExchange"),
      "nothing corpus- or codebook-sized may broadcast here")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      "probe join degenerated to a cross product")
    assert(p.contains("psalt"), "salt fan for the K-valued cluster key missing")
  }

  test("q_merge_upsert: full-outer SMJ reuses the window partitioning, nothing broadcasts") {
    val p = plan("q_merge_upsert")
    assert(p.contains("FullOuter"), "MERGE must keep unmatched rows on both sides")
    assert(!p.contains("BroadcastHashJoin") && !p.contains("BroadcastExchange"),
      "both MERGE sides are table-scale — a broadcast here dies at 100 TB")
    // two window collapses + the output sort; the full-outer join must
    // reuse the windows' (user_id, event_type) hash partitioning
    val exchanges = shuffles(p)
    assert(exchanges <= 3, s"MERGE grew exchanges — window partitioning no longer reused ($exchanges)")
  }

  test("q_prototype_prune: assignment is a projection; only cluster-keyed window + sort shuffle") {
    val p = plan("q_prototype_prune")
    assert(!p.contains("Join"), "centroid assignment regressed to a join")
    val specs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("cid")),
      "rank window lost its cluster partitioning (global funnel)")
    // ≤3: cluster window + output sort + the fanOut round-robin that
    // re-parallelizes the single-split fixture scan before the argmin
    // compute (skipped on any real multi-split scan — Tables.fanOut)
    val exchanges = shuffles(p)
    assert(exchanges <= 3, s"expected fanOut + cluster-window + output-sort only ($exchanges)")
  }

  test("q_change_feed: same MERGE shuffle shape — full-outer SMJ, no broadcast") {
    val p = plan("q_change_feed")
    assert(p.contains("FullOuter"))
    assert(!p.contains("BroadcastHashJoin") && !p.contains("BroadcastExchange"),
      "both snapshots are table-scale — nothing may broadcast")
    val exchanges = shuffles(p)
    assert(exchanges <= 3, s"diff grew exchanges ($exchanges)")
  }

  test("q_ivm_join: all three delta-law terms stay shuffle joins") {
    val p = plan("q_ivm_join")
    assert(p.contains("ShuffledHashJoin"), "delta joins must shuffle on the key")
    assert(!p.contains("BroadcastHashJoin") && !p.contains("BroadcastExchange"),
      "delta sides are table-slices — broadcasting defeats the Δ-proportional claim")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"))
  }

  test("q_hilbert_key: pure expression chain — no join/agg/window before the range sort") {
    val p = plan("q_hilbert_key")
    assert(!p.contains("Join") && !p.contains("HashAggregate") && !p.contains("Window"))
    assert(p.contains("rangepartitioning"), "layout emission is a range-partitioned sort")
  }

  test("q_pmi: marginal joins shuffled, only the 1-row count broadcasts") {
    val p = plan("q_pmi")
    assert(p.contains("ShuffledHashJoin"), "marginal joins must not broadcast")
    assert(p.contains("TakeOrderedAndProject"), "top-25 must not be a global sort")
    // exactly ONE nested-loop node is expected and correct: the 1-row
    // basket-count stats side joins as BroadcastNestedLoopJoin Cross
    // (the q_heavy_hitters shape); any OTHER nested loop is a regression
    assert("BroadcastNestedLoopJoin Cross".r.findAllIn(p).size == 1)
    assert(p.linesIterator.filter(_.contains("NestedLoop"))
      .forall(_.contains("BroadcastNestedLoopJoin")),
      "a data-scale join degenerated to a nested loop")
  }

  test("ingest plan is shuffle-free (scan -> cast, no Exchange)") {
    pinsViaHelper("q_ingest_pp")
    val qe = graft.ingest.Ingest
      .typed(graft.ingest.Ingest.readRaw(spark, graft.ops.IngestQueries.fixturePath))
      .queryExecution
    val p = qe.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("Exchange"), "ingest pipeline acquired a shuffle")
    // the scan is the byte-level parse path: a text scan feeding the
    // native line splitter and date parser, with no CSV scan left
    val tree = qe.executedPlan.toString
    assert(tree.contains("FileScan text"), s"ingest scan is not a text scan:\n$tree")
    assert(!tree.contains("FileScan csv"), s"the builtin CSV scan came back:\n$tree")
    assert(tree.contains("graft_pp_line(") && tree.contains("graft_utc_minute("),
      s"native split or date parse missing from the scan stage:\n$tree")
  }

  test("q_window_range: keyed window only — no Window without partitionBy") {
    val p = plan("q_window_range")
    assert(p.contains("Window"), "RANGE-frame window missing")
    // every Window's partition spec must be non-empty (q_ntile's r4
    // lesson: an un-keyed window funnels the corpus through one task)
    val specs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("user_id")),
      "window lost its user_id partitioning (global funnel)")
  }

  test("q_domain_filter: blocklist anti join broadcasts (domain-bounded build side)") {
    val p = plan("q_domain_filter")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      "provenance filter must be a broadcast anti join")
    assert(!p.contains("SortMergeJoin"), "corpus-side sort-merge appeared")
  }

  test("q_mix_temperature: broadcast stat sides, membership is a shuffle-free compare") {
    val p = plan("q_mix_temperature")
    assert(p.contains("BroadcastHashJoin"), "lang-count side must broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "corpus acquired a shuffled join — membership must stay per-row")
    // the only nested loop allowed is the 1-row min_n cross (the
    // q_heavy_hitters/q_anomaly broadcast-stats idiom)
    assert("BroadcastNestedLoopJoin Cross".r.findAllIn(p).size <= 1)
  }

  test("q_cms_terms: cell table broadcasts, top-k probe is TakeOrderedAndProject") {
    val p = plan("q_cms_terms")
    assert(p.contains("TakeOrderedAndProject"), "exact top-10 must be a heap, not a sort")
    assert(p.contains("BroadcastExchange"), "the fixed-size cell table must broadcast")
    assert(!p.contains("SortMergeJoin"), "probe join regressed to sort-merge")
  }

  test("q_bpe_train round: one pair-count shuffle, argmax is TakeOrderedAndProject") {
    pinsViaHelper("q_bpe_train")
    // the shipped round (Vocab.bpeStep) once on the lazy initial corpus
    val seq0 = graft.ops.Vocab.seq0(spark, sf0001)
    val next = graft.ops.Vocab.bpeLoop(seq0, identity).once
    val p = next.argmax.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("TakeOrderedAndProject"),
      "per-round argmax must be a top-1 heap, never a global sort")
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      "pair counting lost its map-side combine")
    // the corpus rewrite takes the collected rule as LITERALS: one
    // per-row projection over the corpus, no join (no broadcast rule
    // side) and no exchange beyond the ones the initial corpus has
    val (pa, pb, _) = next.rules.head
    val us = 31.toChar
    val rw = next.seq.queryExecution.explainString(ExplainMode.fromString("formatted"))
    val rw0 = seq0.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(rw.contains("replace(") && rw.contains(s"$us$pa$us$us$pb$us"),
      "the rewrite lost its literal merge rule")
    assert(!rw.contains("Join"), "the corpus rewrite acquired a join")
    assert(shuffles(rw) == shuffles(rw0), "the corpus rewrite acquired an exchange")
  }

  test("q_join_outer: agg-below-join, full-outer SMJ reuses the groupBy partitioning") {
    val p = plan("q_join_outer")
    assert(p.contains("FullOuter"), "join type regressed from full outer")
    // both sides aggregate BEFORE the join (sides bounded by |customers|)
    assert("HashAggregate".r.findAllIn(p).size >= 4, "agg pushed above the join")
    // three exchanges total: one per groupBy + the final output sort —
    // the full-outer SMJ reuses the groupBys' custkey partitioning (no
    // extra exchange between agg and join)
    val exchanges = shuffles(p)
    assert(exchanges <= 3,
      s"join added exchanges — groupBy partitioning no longer reused ($exchanges)")
    assert(!p.contains("BroadcastHashJoin"),
      "full outer can never broadcast (both sides keep unmatched rows)")
  }

  test("q_rank_fusion: rank windows sit above LIMIT-bounded funnels") {
    val p = plan("q_rank_fusion")
    // each retriever's top-k is a heap; the un-keyed rank window sees
    // only those k rows — a constant-size funnel at any corpus size
    // (NOT the q_ntile r4 defect, whose window input grew with the data)
    assert(p.linesIterator.count(_.matches(""".*\(\d+\) TakeOrderedAndProject\s*""")) == 2,
      "a retriever list lost its top-k heap (global sort or unbounded window input)")
    assert(p.linesIterator.count(_.matches(""".*\(\d+\) Window\s*""")) == 2)
    // the query-doc token set is the one correct broadcast; the fusion
    // join itself is over two ≤k-row lists
    assert(p.contains("BroadcastHashJoin"), "query token set must broadcast")
    assert(p.contains("FullOuter"), "fusion must keep single-retriever hits")
  }

  test("q_sequence_assemble: one keyed shuffle, no window, no global sort before output") {
    val p = plan("q_sequence_assemble")
    assert(!p.contains("Window"), "assembly must parallelize per key, not via a window")
    val exchanges = shuffles(p)
    assert(exchanges <= 2, s"expected groupBy + output-sort exchanges only ($exchanges)")
  }

  test("q_funnel: ordered fold is user-keyed; groupBy reuses the window partitioning") {
    val p = plan("q_funnel")
    val specs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("user_id")),
      "funnel window lost its user_id partitioning (global funnel)")
    // one data-scale exchange (the user_id window) + the output sort;
    // the groupBy(user_id) must reuse the window's hash partitioning
    val exchanges = shuffles(p)
    assert(exchanges <= 2, s"groupBy stopped reusing the window partitioning ($exchanges)")
  }

  test("q_nucleus_sources: corpus collapses to |lang×source| BEFORE any window; windows keyed") {
    val p = plan("q_nucleus_sources")
    // the aggregate must sit below the windows — a window over raw docs
    // would funnel corpus rows through |langs| tasks
    assert(p.contains("partial_count"), "counts lost their map-side combine")
    val specs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("lang")),
      "a window lost its lang partitioning (global funnel)")
  }

  test("q_corr: one map-side-combined moment aggregation, no join, pruned scan") {
    val p = plan("q_corr")
    assert(!p.contains("Join"), "corr is one agg — a join appeared")
    assert(p.contains("partial_"), "moment sums lost their map-side combine")
    // corr needs exactly 3 columns — full-width lineitem read is wrong
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_returnflag:string>"))
    assert(shuffles(p) <= 2, "agg + output sort only")
  }

  test("q_chunk_overlap / q_epoch_shuffle: per-row fan-out — no shuffle before the output sort") {
    for (name <- Seq("q_chunk_overlap", "q_epoch_shuffle")) {
      val p = plan(name)
      assert(!p.contains("Join") && !p.contains("HashAggregate") && !p.contains("Window"),
        s"$name grew a join/agg/window — the chunker must stay a projection")
      assert(p.contains("Generate"), s"$name lost its explode")
      assert(shuffles(p) <= 1, s"$name shuffles before the output sort")
    }
  }

  test("q_ann_sq8: ADC funnel + rerank both plan TakeOrderedAndProject, no join") {
    val p = plan("q_ann_sq8")
    assert(!p.contains("Join"), "SQ8 scoring is per-row — a join appeared")
    assert("TakeOrderedAndProject".r.findAllIn(p).size >= 2,
      "funnel or rerank regressed to a global sort")
  }

  test("q_deletion_vectors: DV apply is a broadcast anti join on positions") {
    val p = plan("q_deletion_vectors")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      "DV apply must be a broadcast anti join")
    assert(!p.contains("SortMergeJoin") && !p.contains("NestedLoop"))
  }

  test("q_jaccard: wedge join + marginals all shuffled, top-25 is TakeOrdered") {
    val p = plan("q_jaccard")
    assert(p.contains("ShuffledHashJoin"), "wedge/degree joins must not broadcast")
    assert(p.contains("TakeOrderedAndProject"), "top-25 must not be a global sort")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      "a data-scale join degenerated")
  }

  test("q_scd2: lead + row_number share ONE entity-keyed window exchange") {
    val p = plan("q_scd2")
    val specs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty && specs.forall(s => s.contains("user_id") && s.contains("event_type")),
      "a window lost its entity partitioning (global funnel)")
    // both window functions evaluate in one Window node over one shuffle
    assert(p.linesIterator.count(_.matches("""\(\d+\) Window\s*""")) == 1,
      "lead and row_number split into two Window nodes")
    assert(shuffles(p) <= 2, "entity window + output sort only")
  }

  test("q_graph_sample: per-parent rank prunes to WindowGroupLimit, frontier joins shuffled") {
    val p = plan("q_graph_sample")
    assert(p.contains("WindowGroupLimit"),
      "neighbor cap lost its group-limit rewrite — full adjacency fan-out crosses the shuffle")
    assert(p.contains("ShuffledHashJoin"), "frontier joins must not broadcast")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"))
  }

  test("q_negative_sampling: rank lookup is a shuffled equi-join, only the 1-row count broadcasts") {
    val p = plan("q_negative_sampling")
    assert(p.contains("ShuffledHashJoin"), "rank table must not broadcast (corpus-scale)")
    // exactly ONE nested-loop node is expected and correct: the 1-row
    // corpus count joins as BroadcastNestedLoopJoin Cross
    assert("BroadcastNestedLoopJoin Cross".r.findAllIn(p).size == 1)
    assert(p.linesIterator.filter(_.contains("NestedLoop"))
      .forall(_.contains("BroadcastNestedLoopJoin")),
      "a data-scale join degenerated to a nested loop")
    // the numbering must stay two-pass: any windowspec here is the
    // |parts|-row offset prefix-sum, never a corpus-scale global window
    assert(!p.linesIterator.exists(l =>
      l.contains("windowspecdefinition") && l.contains("doc_id")),
      "global row_number window reappeared (one-partition funnel)")
  }

  test("q_cogroup: two co-partitioned exchanges, typed boundary fed by pruned projections") {
    val p = plan("q_cogroup")
    assert(p.contains("CoGroup"), "typed cogroup operator missing")
    assert(shuffles(p) <= 3, "cogroup grew extra exchanges (2 inputs + output sort)")
    // the typed boundary must read pruned inputs, not full rows
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint,o_totalprice:double>"),
      "orders side lost its pre-cogroup projection")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint>"),
      "lineitem side lost its pre-cogroup projection")
  }

  test("q_text_normalize: pure per-row projection — no shuffle before the output sort") {
    val p = plan("q_text_normalize")
    assert(!p.contains("Join") && !p.contains("HashAggregate") && !p.contains("Window"))
    assert(shuffles(p) <= 1, "normalization acquired a shuffle")
  }

  test("q_bm25: 1-row stats broadcast onto the scan, top-20 TakeOrdered, no explode") {
    val p = plan("q_bm25")
    // the corpus-stats side is ONE row: it joins back as an identity-
    // broadcast cross join — the only join this query may ever have
    assert(p.contains("BroadcastNestedLoopJoin"), "stats side lost its 1-row broadcast")
    assert(p.contains("IdentityBroadcastMode"), "stats broadcast regressed to a hashed build")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "a data-scale join appeared — the scan side must never shuffle")
    assert(p.contains("TakeOrderedAndProject"), "top-20 must not be a global sort")
    assert(!p.contains("Generate"), "per-term explode appeared (tf must stay an array-filter projection)")
    assert(shuffles(p) <= 1, "only the 1-row stats agg may exchange")
  }

  test("q_inverted_index: block groupBy reuses the term-keyed window exchange, top-12 TakeOrdered") {
    val p = plan("q_inverted_index")
    assert(p.contains("TakeOrderedAndProject"), "df top-12 must be a funnel, not a global sort")
    assert(p.contains("BroadcastHashJoin"), "the 12-term filter must broadcast")
    // numbering + gaps share ONE term-keyed Window
    assert(p.linesIterator.count(_.matches("""\(\d+\) Window\s*""")) == 1,
      "row_number and lag split into two Window nodes")
    assert(p.linesIterator.filter(_.contains("windowspecdefinition"))
      .forall(_.contains("term#")), "the window lost its term partitioning")
    // the (term, block_id) groupBy is co-partitioned with the window:
    // no NEW hash exchange may carry block_id — the only post-window
    // exchange is the output range sort
    assert(!p.linesIterator.exists(l =>
      l.contains("hashpartitioning") && l.contains("block_id")),
      "block groupBy repartitioned instead of reusing the term exchange")
    assert(shuffles(p) <= 5, "inverted-index build grew extra exchanges")
  }

  test("q_preference_pairs: ONE map-side-combined agg over the packed BIGINT, no join/window") {
    val p = plan("q_preference_pairs")
    assert(p.contains("partial_max(pack") && p.contains("partial_min(pack"),
      "argmax/argmin lost their map-side combine")
    assert(!p.contains("Join") && !p.contains("Window") && !p.contains("Generate"),
      "pair mining must stay a single aggregation")
    assert(shuffles(p) <= 2, "source agg + output sort only")
  }

  test("q_weighted_sample: shuffle-free scan + top-20 funnel — the replication never materializes") {
    val p = plan("q_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"), "top-20 must not be a global sort")
    assert(!p.contains("Join") && !p.contains("HashAggregate") && !p.contains("Window"))
    assert(!p.contains("Generate"),
      "the w-replica fan-out exploded into rows (must stay inside one projection)")
    assert(shuffles(p) == 0, "weighted sampling acquired a shuffle")
  }

  test("q_bm25_postings: probe touches index files only — no corpus scan, term filter pushed") {
    val p = plan("q_bm25_postings")
    // the whole point: the probe path never reads the document corpus
    assert(!p.contains("documents.parquet"),
      "probe plan scans the corpus — the index is being ignored")
    assert(p.contains("postings.parquet") && p.contains("dict.parquet")
      && p.contains("stats.parquet"), "an index file dropped out of the probe")
    assert(p.contains("PushedFilters: [In(term, [batch,dup,query,vector])]"),
      "query-term predicate must prune the postings scan")
    // two 1-row broadcast sides, one doc_id groupBy, top-20 funnel
    assert("IdentityBroadcastMode".r.findAllIn(p).size == 2,
      "df/stats sides must join as 1-row identity broadcasts")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "a data-scale join appeared in the probe path")
    assert(p.contains("TakeOrderedAndProject"), "top-20 must not be a global sort")
    assert(shuffles(p) <= 2, "doc_id pivot + 1-row dict agg only")
  }

  test("q_stream_anomaly gate: profile side broadcasts — the stream never shuffles for the join") {
    // pin the batch shape of the stream-static join (trigger-invariant;
    // the streaming plan wraps exactly this)
    pinsViaHelper("q_stream_anomaly")
    val ev = graft.ops.Tables.events(spark, sf0001)
    val p = graft.streaming.Replay
      .anomalyGate(ev, graft.ops.Sampling.eventTypeStats(ev))
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("BroadcastHashJoin"), "profile join must broadcast the stats side")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "the unbounded stream side may never shuffle into a stateful join here")
    assert(shuffles(p) <= 1, "only the |event_type|-row stats agg may exchange")
  }

  test("q_pit_join: union-merge, no join node — one entity exchange carries the whole operator") {
    val p = plan("q_pit_join")
    assert(!p.contains("Join"), "point-in-time join regressed to a real join (probe × version fan-out)")
    assert(p.contains("Union"), "history/probe union-merge input missing")
    assert(p.linesIterator.filter(_.contains("windowspecdefinition"))
      .forall(s => s.contains("user_id") && s.contains("event_type")),
      "a window lost its entity partitioning")
    assert(shuffles(p) == 2, "entity window + output sort only")
    assert(!p.contains("BroadcastExchange"),
      "nothing here may broadcast when events is the 100 TB fact")
  }

  test("q_length_batching: (bucket, batch) groupBy reuses the bucket window exchange") {
    val p = plan("q_length_batching")
    assert(p.linesIterator.count(_.matches("""\(\d+\) Window\s*""")) == 1)
    assert(p.linesIterator.filter(_.contains("windowspecdefinition"))
      .forall(_.contains("bucket#")), "numbering lost its bucket partitioning")
    assert(p.contains("partial_count(1)") && p.contains("partial_max(n_toks"),
      "batch stats lost their map-side combine")
    assert(!p.contains("Join") && !p.contains("Generate"))
    assert(shuffles(p) <= 2, "bucket window + output sort only — the groupBy must reuse the exchange")
  }

  test("q_maxsim: 16 cosines in one shuffle-free projection, top-10 TakeOrdered") {
    val p = plan("q_maxsim")
    assert(p.contains("TakeOrderedAndProject"), "top-10 must not be a global sort")
    assert(!p.contains("HashAggregate") && !p.contains("Window") && !p.contains("Generate"))
    assert(shuffles(p) == 0, "late-interaction scoring acquired a shuffle")
  }

  test("q_gini_diversity: two map-side-combined hash aggs, no join") {
    val p = plan("q_gini_diversity")
    assert(p.contains("partial_count(1)"), "term counts lost their map-side combine")
    assert(!p.contains("Join"), "diversity moments must not join")
    assert(shuffles(p) <= 3, "term agg + doc agg + output sort only")
  }

  test("q_feature_hash: one hash agg over the exploded sample, no join, no window") {
    val p = plan("q_feature_hash")
    assert(p.contains("partial_count(1)"), "bucket counts lost their map-side combine")
    assert(!p.contains("Join") && !p.contains("Window"))
    assert(shuffles(p) <= 2, "bucket agg + output sort only")
  }

  test("q_random_walk round: two keyed equi-joins, one row per walk — no fan-out, no broadcast") {
    pinsViaHelper("q_random_walk")
    val p = graft.ops.Graph.walkLoop(spark, sf0001, identity).once._1
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert("ShuffledHashJoin".r.findAllIn(p).size >= 2,
      "degree lookup and adjacency probe must both stay keyed shuffle joins")
    // the adjacency probe must build the WALK-scale side (BuildLeft) and
    // stream the edge-scale adjacency: the r12 sf10 ledger OOM'd an
    // edge-scale hash build and crawled on a per-step sort-merge
    // (the base orders⋈lineitem construction sort-merges — that SMJ is
    // the corpus×corpus rule, not the probe)
    assert(p.contains("BuildLeft"),
      "adjacency probe lost its walk-scale build side — an edge-scale build OOMs at sf10, " +
        "and a sort-merge re-sorts the whole adjacency every step for a 40k-walk probe")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      "a data-scale join degenerated")
    // the adjacency probe is an EQUI join on (src, rnk): no post-join
    // rank filter may exist (that shape fans out a celebrity adjacency
    // before filtering)
    assert(!p.contains("BroadcastHashJoin"),
      "corpus-scale walk state / adjacency must never broadcast")
  }

  test("q_khop round: frontier join shuffled, expansion dedup map-side, anti join keyed") {
    pinsViaHelper("q_khop")
    val p = graft.ops.Graph.khopLoop(spark, sf0001, identity).once._1
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("ShuffledHashJoin"), "edges⋈frontier must not broadcast the state")
    assert(p.contains("LeftAnti"), "visited-set subtraction lost its anti join")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"))
  }

  test("q_expectations: dim side shuffles (SF-scaled customers never broadcast), one 1-row agg") {
    val p = plan("q_expectations")
    assert(p.contains("ShuffledHashJoin LeftOuter"),
      "referential-integrity join must be a keyed shuffle join")
    // the r8 scale-killer: broadcast(active) where active grows with SF
    assert(!p.contains("BroadcastExchange") && !p.contains("BroadcastHashJoin"),
      "customers are corpus-scaled — nothing here may broadcast")
    assert(p.contains("partial_count(1)") && p.contains("partial_sum"),
      "audit sums lost their map-side combine")
    assert(shuffles(p) <= 3, "events key + dim key + 1-row agg merge only")
  }

  test("kmv sketch builders: bottom-k rank plans as WindowGroupLimit at BOTH levels") {
    // the scaladoc's whole scale argument: with only |corpora| partition
    // values, the rank filter is safe ONLY if map tasks forward ≤k rows
    // per group — i.e. the WindowGroupLimit rewrite fires (the
    // q_sample_per_key / q_knn_join precedent). Pinned on the
    // un-materialized builders both declared queries consume.
    pinsViaHelper("q_kmv_overlap", "q_kmv_merge")
    val one = graft.ops.Dedup.kmvSketch(spark, sf0001)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(one.contains("WindowGroupLimit"),
      "per-corpus bottom-64 lost its group-limit rewrite (full distinct-shingle sort on 2 tasks)")
    assert(!one.contains("BroadcastExchange"), "nothing corpus-sized may broadcast")
    val sharded = graft.ops.Dedup.kmvSketchSharded(spark, sf0001)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(sharded.linesIterator.count(_.matches(""".*\(\d+\) WindowGroupLimit\s*""")) >= 4,
      "shard-level and merge-level bottom-64 must BOTH rewrite to WindowGroupLimit (2 phases each)")
  }

  test("q_kmv_overlap / q_kmv_merge: corpus work behind ONE checkpoint — no parquet scan downstream") {
    for (q <- Seq("q_kmv_overlap", "q_kmv_merge")) {
      val p = plan(q)
      assert(p.contains("Scan ExistingRDD"), s"$q lost the sketch materialization")
      assert(!p.contains("Scan parquet"),
        s"$q re-derives the corpus scan per consumer (the sketch must be read from the checkpoint)")
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
        s"$q grew a data-scale join over the ≤3k-row sketch")
    }
  }

  test("q_mlp_score: the hidden layer IS one map-side-combined aggregate — no join, no window") {
    val p = plan("q_mlp_score")
    assert(p.contains("partial_sum"), "hidden-layer sums lost their map-side combine")
    assert(!p.contains("Join") && !p.contains("Window"),
      "integer MLP inference must stay explode + one agg (weights are formula literals)")
    assert(shuffles(p) <= 2, "doc_id agg + output sort only")
  }

  test("q_maxsim_ann: routed filter + rescore in one shuffle-free projection, top-10 TakeOrdered") {
    val p = plan("q_maxsim_ann")
    assert(p.contains("TakeOrderedAndProject"), "top-10 must not be a global sort")
    assert(!p.contains("Join") && !p.contains("HashAggregate") && !p.contains("Window"))
    assert(shuffles(p) == 0, "routed late-interaction scoring acquired a shuffle")
  }

  test("q_maxsim_postings: probe is partition pruning on the bucket layout — embeddings never scanned") {
    val p = plan("q_maxsim_postings")
    assert(!p.contains("embeddings.parquet"),
      "probe plan scans the corpus — the materialized bucket layout is being ignored")
    assert(p.contains("graft_maxsim_buckets_"), "bucket layout missing from the probe")
    // the driver-computed probe IN-list must prune at the DIRECTORY
    // level: a PartitionFilters INSET on bucket, never a data filter
    val pf = p.linesIterator.filter(_.contains("PartitionFilters")).mkString
    assert(pf.contains("bucket#") && pf.contains("INSET"),
      "probe buckets must prune partitions, not filter rows post-scan")
    assert(p.contains("TakeOrderedAndProject"), "top-10 must not be a global sort")
    assertListsBucketDirs(p, "graft_maxsim_buckets_")
    assert(shuffles(p) <= 1, "only the multi-facet-hit distinct may exchange")
  }

  test("q_importance_sample: membership is a broadcast-stat per-row filter — the corpus never shuffle-joins") {
    val p = plan("q_importance_sample")
    assert(p.contains("BroadcastHashJoin"),
      "the |langs|-row histogram must broadcast against the scan")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "the corpus side must not shuffle for a per-row membership filter")
    assert(p.contains("partial_count"), "lang histogram lost its map-side combine")
  }

  test("q_grpo_advantage: ONE prompt-keyed exchange carries moments + rank — no join") {
    val p = plan("q_grpo_advantage")
    assert(p.contains("Window"), "group-moment windows missing")
    assert(!p.contains("Join"), "normalization must not join — windows share the exchange")
    val specs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("user_id")),
      "a window lost its prompt partitioning (global funnel)")
    assert(shuffles(p) <= 2, "prompt exchange + output sort only")
  }

  test("q_hard_negatives: ONE checkpointed corpus explode, shingle join shuffled both sides, top-3 is WindowGroupLimit") {
    val p = plan("q_hard_negatives")
    assert(p.contains("Scan ExistingRDD"),
      "shingle relation lost its materialization")
    assert(!p.contains("Scan parquet"),
      "a consumer re-derives the corpus explode instead of scanning the checkpoint")
    // df-cap join: both sides corpus-scale → SORT-MERGE (the r12 sf10
    // ledger OOM'd the earlier 45M-gram hash build); match join: the
    // query side (1/97 of shingles) is a legitimately bounded hash build
    assert(p.contains("SortMergeJoin"),
      "hot-shingle df-cap join must sort-merge — both sides corpus-scale")
    assert(p.contains("ShuffledHashJoin"),
      "the match join must stay a keyed shuffle join on the bounded query side")
    assert(!p.contains("BroadcastHashJoin") && !p.contains("CartesianProduct")
      && !p.contains("NestedLoop"),
      "nothing corpus-derived may broadcast, and no pair may form outside the shingle key")
    assert(p.contains("WindowGroupLimit"),
      "per-query top-3 lost its group-limit rewrite (full candidate sort)")
  }

  test("q_curriculum: rarity joins shuffled, rank is the two-pass range shape — no global window") {
    // the corpus-scale stage, un-materialized (the kmvSketch pin idiom)
    val r = graft.ops.Sampling.curriculumRarity(spark, sf0001)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(r.contains("ShuffledHashJoin"), "shingle→df rarity join must shuffle")
    assert(!r.contains("BroadcastHashJoin"),
      "nothing corpus-derived may broadcast (only the 1-row n_docs stat cross join)")
    // the declared query: checkpointed rarity + the two-pass tile
    val p = plan("q_curriculum")
    assert(p.contains("Scan ExistingRDD"), "rarity lost its materialization")
    assert(!p.contains("Scan parquet"),
      "the two-pass rank re-derives the corpus scan per consumer")
    assert(!p.contains("ntile"), "phase must be the closed-form tile, never a global ntile window")
    assert(p.contains("monotonically_increasing_id"), "two-pass id encoding missing")
    assert(p.contains("rangepartitioning(rarity"),
      "curriculum order must be the TeraSort range exchange")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_span_corruption: a pure per-row projection — the only exchange is the output sort") {
    val p = plan("q_span_corruption")
    assert(!p.contains("Join") && !p.contains("Window") && !p.contains("HashAggregate"),
      "denoising-example construction must stay per-row")
    assert(shuffles(p) <= 1, "span corruption acquired a data-scale shuffle")
  }

  test("q_stream_pit gate: per-entity serving state — batch twin of the fold is keyed, no broadcast") {
    // the streaming plan itself is on audit in plans/current/q_stream_pit.txt
    // (final micro-batch); here pin the staged-input derivation: one events
    // scan, per-row kind/week projection, no join
    pinsViaHelper("q_stream_pit")
    val p = graft.ops.Tables.events(spark, sf0001)
      .selectExpr("event_id", "user_id", "event_type",
        "unix_micros(ts) AS tsu", "value")
      .where(org.apache.spark.sql.functions.col("event_type").isin("purchase", "click"))
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("Exchange"), "PIT staging projection acquired a shuffle")
  }

  test("q_rerank: candidate set materialized + broadcast — rerank cost ∝ k, never corpus") {
    val p = plan("q_rerank")
    assert(p.contains("Scan ExistingRDD"), "top-20 candidates lost their materialization")
    assert(p.contains("BroadcastHashJoin"),
      "the 20-row candidate side must broadcast into the documents scan")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "the corpus must never shuffle for a k-row rerank")
    assert(p.contains("TakeOrderedAndProject"), "final top-5 must not be a global sort")
  }

  test("q_bm25_segments: both segment postings probed with term pushdown — corpus never scanned") {
    val p = plan("q_bm25_segments")
    assert(!p.contains("documents.parquet"),
      "segment probe scans the corpus — the layout is being ignored")
    assert(p.linesIterator.count(_.contains("postings.parquet")) >= 2,
      "both segments' postings must be probed")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("In(term"),
      "query terms must push into the segment postings scans")
    assert(p.contains("TakeOrderedAndProject"), "top-20 must not be a global sort")
  }

  test("q_bm25_merge: the merged segment probes like a single-build index — segments and corpus absent") {
    val p = plan("q_bm25_merge")
    assert(!p.contains("documents.parquet"),
      "merged probe scans the corpus — the layout is being ignored")
    assert(!p.contains("graft_bm25_segs_"),
      "merged probe still reads the per-segment layout — the merge didn't fold it")
    assert(p.contains("graft_bm25_merged_"), "merged layout missing from the probe")
    assert(p.linesIterator.count(_.contains("postings.parquet")) == 1,
      "exactly ONE postings scan: the merge's whole point is bounding probed segment count")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("In(term"),
      "query terms must push into the merged postings scan")
    assert(p.contains("TakeOrderedAndProject"), "top-20 must not be a global sort")
  }

  test("q_rouge: clip join sort-merge both sides — corpus never broadcasts or hash-builds, counts map-side combined") {
    val p = plan("q_rouge")
    assert(!p.contains("BroadcastHashJoin") && !p.contains("BroadcastExchange"),
      "every q_rouge join side is corpus-scale — nothing may broadcast")
    // the sf10 ledger lesson (q_bleu OOM): an unbounded build side may
    // not be forced into a hash join either — SMJ is the only strategy
    // whose per-task memory is flat in partition size
    assert(!p.contains("ShuffledHashJoin"),
      "corpus-scale build side in a hash join — OOMs when a partition outgrows task memory")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      "no pair may form outside the (ref_id, tok) / id keys")
    assert("SortMergeJoin".r.findAllIn(p).size >= 4,
      "pairing, clip, and both length joins must be keyed sort-merge joins")
    assert(p.contains("partial_count"), "(doc, token) counts lost their map-side combine")
    assert(p.contains("partial_sum"), "clipped-overlap sum lost its map-side combine")
  }

  test("q_ann_ivf_flat: probe is partition pruning on the (cid, sig) layout — embeddings never scanned, zero shuffles") {
    val p = plan("q_ann_ivf_flat")
    assert(!p.contains("embeddings.parquet"),
      "probe plan scans the corpus — the materialized IVF sub-bucket layout is being ignored")
    assert(p.contains("graft_ivf_sub_"), "IVF sub-bucket layout missing from the probe")
    val pf = p.linesIterator.filter(_.contains("PartitionFilters")).mkString
    // small probe lists render as IN (…), large ones as INSET — both
    // are the same directory-level pruning
    assert(pf.contains("bucket#") && (pf.contains("INSET") || pf.contains(" IN (")),
      "probe buckets must prune partitions, not filter rows post-scan")
    assert(p.contains("TakeOrderedAndProject"), "top-5 must not be a global sort")
    assert(shuffles(p) == 0,
      "one row per vector in the layout — the probe needs no exchange at all")
    assertListsBucketDirs(p, "graft_ivf_sub_")
  }

  test("q_ann_segments: union of per-segment pruned scans — embeddings never scanned, zero shuffles") {
    val p = plan("q_ann_segments")
    assert(!p.contains("embeddings.parquet"),
      "probe plan scans the corpus — the segmented IVF layout is being ignored")
    assert(p.contains("graft_ivf_segs_"), "segmented IVF layout missing from the probe")
    val pf = p.linesIterator.filter(_.contains("PartitionFilters")).mkString
    assert(pf.contains("bucket#") && (pf.contains("INSET") || pf.contains(" IN (")),
      "per-segment probe buckets must prune partitions, not filter rows post-scan")
    assertListsBucketDirs(p, "graft_ivf_segs_")
    assert(!p.contains("Join") && !p.contains("HashAggregate"),
      "candidate union + re-filter is a projection — a join/agg appeared")
    assert(p.contains("TakeOrderedAndProject"), "top-5 must not be a global sort")
    assert(shuffles(p) == 0,
      "probe-sized candidates per segment — the combine needs no exchange at all")
  }

  test("q_ann_merge: the merged store probes through the identical flat-probe shape") {
    val p = plan("q_ann_merge")
    assert(!p.contains("embeddings.parquet"),
      "probe plan scans the corpus — the merged IVF layout is being ignored")
    assert(p.contains("graft_ivf_merged_"), "merged IVF layout missing from the probe")
    val pf = p.linesIterator.filter(_.contains("PartitionFilters")).mkString
    assert(pf.contains("bucket#") && (pf.contains("INSET") || pf.contains(" IN (")),
      "probe buckets must prune partitions, not filter rows post-scan")
    assert(p.contains("TakeOrderedAndProject"), "top-5 must not be a global sort")
    assert(shuffles(p) == 0,
      "one row per vector in the merged layout — the probe needs no exchange at all")
    assertListsBucketDirs(p, "graft_ivf_merged_")
  }

  test("q_bleu: tagged-gram clip join sort-merge both sides — corpus never broadcasts or hash-builds") {
    val p = plan("q_bleu")
    assert(!p.contains("BroadcastHashJoin") && !p.contains("BroadcastExchange"),
      "every q_bleu join side is corpus-scale — nothing may broadcast")
    // the pin that holds the sf10 catch: this exact query OOM'd at
    // 500k docs with a forced shuffle_hash (the ~45M-gram build side)
    assert(!p.contains("ShuffledHashJoin"),
      "corpus-scale build side in a hash join — OOMs when a partition outgrows task memory")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      "no pair may form outside the (ref_id, n, gram) / id keys")
    assert("SortMergeJoin".r.findAllIn(p).size >= 4,
      "pairing, clip, and both length joins must be keyed sort-merge joins")
    assert(p.contains("partial_count"), "(doc, n, gram) counts lost their map-side combine")
    assert(p.contains("partial_sum"), "clipped-overlap sums lost their map-side combine")
    assert(p.contains("Union"), "the unigram and bigram streams must feed ONE tagged count aggregate")
  }

  test("q_bm25_tiered: probe is bounded by K=2 post-policy segments — corpus, multi-segment and pairwise layouts all absent") {
    val p = plan("q_bm25_tiered")
    assert(!p.contains("documents.parquet"),
      "post-policy probe scans the corpus — the tiered layout is being ignored")
    assert(!p.contains("graft_bm25_multi_") && !p.contains("graft_bm25_segs_"),
      "probe still reads pre-policy segments — the policy didn't bound the probed set")
    assert(p.contains("graft_bm25_tiered_"), "tiered layout missing from the probe")
    assert(p.linesIterator.count(_.contains("postings.parquet")) == graft.ops.TextOps.TieredK,
      s"exactly ${graft.ops.TextOps.TieredK} postings scans: bounding probed segment count is the policy's whole point")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("In(term"),
      "query terms must push into the post-policy postings scans")
    assert(p.contains("TakeOrderedAndProject"), "top-20 must not be a global sort")
  }

  test("q_bleu_multi: ref-set clip joins sort-merge both sides — corpus never broadcasts or hash-builds, max/counts map-side combined") {
    val p = plan("q_bleu_multi")
    assert(!p.contains("BroadcastHashJoin") && !p.contains("BroadcastExchange"),
      "every q_bleu_multi join side is corpus-scale — nothing may broadcast")
    // the sf10 hash-build OOM rule carried from q_bleu: an unbounded
    // build side may never be forced into a hash join
    assert(!p.contains("ShuffledHashJoin"),
      "corpus-scale build side in a hash join — OOMs when a partition outgrows task memory")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      "no pair may form outside the ref_id / (cand_id, n, gram) / id keys")
    assert("SortMergeJoin".r.findAllIn(p).size >= 4,
      "ref fan-out, clip, r_eff and final joins must all be keyed sort-merge joins")
    assert(p.contains("partial_count"), "(doc, n, gram) counts lost their map-side combine")
    assert(p.contains("partial_max"), "per-candidate reference MAX lost its map-side combine")
    assert(p.contains("partial_sum"), "clipped-overlap sums lost their map-side combine")
    assert(p.contains("Union"), "the unigram and bigram streams must feed ONE tagged count aggregate")
  }

  test("q_rouge_multi: ref-set clip joins sort-merge both sides, best-pair selection is a group-limit window") {
    val p = plan("q_rouge_multi")
    assert(!p.contains("BroadcastHashJoin") && !p.contains("BroadcastExchange"),
      "every q_rouge_multi join side is corpus-scale — nothing may broadcast")
    assert(!p.contains("ShuffledHashJoin"),
      "corpus-scale build side in a hash join — the sf10 OOM rule")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      "no pair may form outside the ref_id / (ref_id, tok) / id keys")
    assert("SortMergeJoin".r.findAllIn(p).size >= 4,
      "ref fan-out, clip, and both length joins must be keyed sort-merge joins")
    assert(p.contains("partial_count"), "(doc, token) counts lost their map-side combine")
    assert(p.contains("partial_sum"), "clipped-overlap sums lost their map-side combine")
    assert(p.contains("WindowGroupLimit"),
      "best-pair selection must be a group-limit window (≤ k rows per candidate), not a full sort")
  }

  test("q_lm_backoff: count-table lookups are vocab-build hash joins, counts map-side combined, N never a corpus pass") {
    val p = plan("q_lm_backoff")
    // the three count lookups (bigram, prefix unigram, backoff unigram)
    // and the doc join-back ride hash joins whose build sides are
    // DISTINCT-vocAB/doc aggregates — the q_lm_score shape; the corpus
    // occurrence stream is always the STREAMED side
    assert("ShuffledHashJoin LeftOuter".r.findAllIn(p).size >= 4,
      "count-table lookups must be hashed left joins on the 8-byte gram keys")
    assert(!p.contains("SortMergeJoin"),
      "a vocab-table lookup degenerated to a sort of the corpus stream")
    assert(!p.contains("BroadcastHashJoin"),
      "count tables grow with vocabulary — they may never broadcast")
    // N (total train tokens) is an aggregate OVER the unigram table —
    // a 1-row broadcast cross, never a third corpus pass
    assert("BroadcastNestedLoopJoin Cross".r.findAllIn(p).size == 1)
    assert(p.linesIterator.filter(_.contains("NestedLoop"))
      .forall(_.contains("BroadcastNestedLoopJoin")))
    assert(p.contains("partial_count"), "count tables lost their map-side combine")
  }

  test("q_dsir: the 4096-bucket model broadcasts against the gram scan — the corpus never shuffle-joins, ONE fit pass") {
    val p = plan("q_dsir")
    assert(p.contains("BroadcastHashJoin"),
      "the bounded bucket table must broadcast against the gram stream")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "the corpus side must never shuffle-join — the hashed model is corpus-size-independent")
    // totals are an aggregate OVER the bucket table (1-row broadcast
    // cross) — never a second corpus aggregate
    assert("BroadcastNestedLoopJoin Cross".r.findAllIn(p).size == 1)
    assert(p.linesIterator.filter(_.contains("NestedLoop"))
      .forall(_.contains("BroadcastNestedLoopJoin")))
    assert(p.contains("partial_count"), "bucket model fit lost its map-side combine")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string,lang:string>"),
      "document scan must prune to the 3 consumed columns")
  }

  test("q_rouge_l: ONE sort-merge pair join + a per-row codegen DP — no broadcast, no hash build, no explode") {
    val p = plan("q_rouge_l")
    assert(!p.contains("BroadcastHashJoin") && !p.contains("BroadcastExchange"),
      "both q_rouge_l join sides are corpus-scale — nothing may broadcast")
    assert(!p.contains("ShuffledHashJoin"),
      "corpus-scale build side in a hash join — the sf10 OOM rule")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"))
    assert(p.linesIterator.count(_.matches("""\(\d+\) SortMergeJoin.*""")) == 1,
      "exactly ONE keyed merge join carries both texts to the pair row")
    assert(p.contains("graft_lcs"),
      "the LCS must be the native codegen expression, not an exploded join")
    assert(!p.contains("Generate"),
      "ROUGE-L must not explode tokens — the DP is a per-row projection")
  }

  test("q_chrf: char-gram clip joins sort-merge both sides — corpus never broadcasts or hash-builds, counts map-side combined") {
    val p = plan("q_chrf")
    assert(!p.contains("BroadcastHashJoin") && !p.contains("BroadcastExchange"),
      "every q_chrf join side is corpus-scale — nothing may broadcast")
    assert(!p.contains("ShuffledHashJoin"),
      "corpus-scale build side in a hash join — the sf10 OOM rule")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"))
    assert(p.contains("partial_count"), "(doc, n, gram) counts lost their map-side combine")
    assert(p.contains("partial_sum"), "clipped-overlap sums lost their map-side combine")
    assert(p.contains("Union"), "the char-unigram and char-bigram streams must feed ONE tagged count aggregate")
  }

  test("q_chrf_sampled: the q_chrf contract + the semi-join pushgate that makes cost ∝ sample") {
    val p = plan("q_chrf_sampled")
    assert(!p.contains("BroadcastHashJoin") && !p.contains("BroadcastExchange"),
      "every corpus-scale side must stay sort-merge — nothing may broadcast")
    assert(!p.contains("ShuffledHashJoin"),
      "corpus-scale build side in a hash join — the sf10 OOM rule")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"))
    assert(p.contains("LeftSemi"),
      "the char-gram explosion must be gated to sampled docs by a semi join")
    assert(p.contains("partial_count"), "(doc, n, gram) counts lost their map-side combine")
    assert(p.contains("Union"), "the char-unigram and char-bigram streams must feed ONE tagged count aggregate")
  }

  test("q_distinct_n: two map-side-combined aggregates, no join, no window") {
    val p = plan("q_distinct_n")
    assert(!p.contains("Join"), "diversity stats must not join — two chained aggregates only")
    assert(!p.contains("Window"), "no window — the rollup is a plain groupBy")
    assert(p.contains("partial_count"), "(source, n, gram) counts lost their map-side combine")
    assert(p.contains("Union"), "uni/bigram streams must feed ONE tagged aggregate")
    // 5 static = gram agg + source rollup + output sort + the fanOut
    // repartition duplicated under each Union branch (one per gram
    // width — AQE exchange reuse collapses the pair at runtime)
    assert(shuffles(p) <= 5, "gram agg + source rollup + output sort + fanOut only")
  }

  test("q_embedding_shift: ONE corpus pass — a map-side-combined K-row aggregate, totals from that table, no join") {
    val p = plan("q_embedding_shift")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin")
      && !p.contains("BroadcastHashJoin"),
      "drift detection must not join at data scale — the histogram IS the aggregate")
    // totals are an aggregate OVER the K-row histogram riding a 1-row
    // broadcast cross — never a second corpus aggregate
    assert("BroadcastNestedLoopJoin Cross".r.findAllIn(p).size == 1)
    assert(p.linesIterator.filter(_.contains("NestedLoop"))
      .forall(_.contains("BroadcastNestedLoopJoin")))
    assert(p.contains("partial_count"), "cluster histogram lost its map-side combine")
    assert(!p.contains("Window"), "assignment is argmin projection, not a rank window")
  }

  test("plan-pin ledger: the companion `pinned` set equals what this suite actually planned") {
    // run LAST (registration order): `pinned` is the contract
    // InventorySpec audits every declared query against — this test
    // makes over- or under-claiming impossible (a pin test added
    // without a ledger entry, or a ledger entry without a pin test,
    // fails here).
    assert(QueriesPlanSpec.seen.toSet == QueriesPlanSpec.pinned,
      s"ledger drift — missing pins: ${QueriesPlanSpec.pinned -- QueriesPlanSpec.seen}; " +
        s"unlisted pins: ${QueriesPlanSpec.seen.toSet -- QueriesPlanSpec.pinned}")
  }
}

object QueriesPlanSpec {
  /** Every query name a test above records via plan()/pinsViaHelper —
    * the run-verified ledger (see the final meta test) InventorySpec
    * uses to prove no declared query ships without either a plan pin
    * or a documented exemption.
    */
  private[graft] val seen = scala.collection.mutable.Set[String]()

  val pinned: Set[String] = Set(
    "q_filter", "q_join_broadcast", "q_join_multi", "q_semi", "q_anti",
    "q_topk", "q_asof_join", "q_partition_prune", "q_join_bucketed",
    "q_join_salted", "q_range_join", "q_dedup_ngram", "q_dedup_minhash",
    "q_dedup_simhash", "q_decontaminate", "q_repetition", "q_pii_redact",
    "q_length_histogram", "q_global_rownum", "q_decontaminate_bloom",
    "q_ntile", "q_incremental_dedup", "q_orc_roundtrip", "q_mix_balance",
    "q_dedup_survivor", "q_substring_dedup", "q_quality_classifier",
    "q_cosine_near_blocked", "q_ann_ivf", "q_cosine_near", "q_agg_hash",
    "q_sample_hash", "q_sample_per_key", "q_interleave", "q_pivot",
    "q_pack", "q_zorder_key", "q_tpch_shipping", "q_tpch_market",
    "q_tpch_returns", "q_curation_pipeline", "q_cooccur", "q_triangles",
    "q_knn_join", "q_knn_join_ann", "q_merge_upsert", "q_prototype_prune",
    "q_change_feed", "q_ivm_join", "q_hilbert_key", "q_pmi",
    "q_window_range", "q_domain_filter", "q_mix_temperature", "q_cms_terms",
    "q_join_outer", "q_rank_fusion", "q_sequence_assemble", "q_funnel",
    "q_nucleus_sources", "q_corr", "q_chunk_overlap", "q_epoch_shuffle",
    "q_ann_sq8", "q_deletion_vectors", "q_jaccard", "q_scd2",
    "q_graph_sample", "q_negative_sampling", "q_cogroup", "q_text_normalize",
    "q_bm25", "q_inverted_index", "q_preference_pairs", "q_weighted_sample",
    "q_bm25_postings", "q_pit_join", "q_length_batching", "q_maxsim",
    "q_gini_diversity", "q_feature_hash",
    // pinned through helper shapes (per-round bodies / batch twins)
    "q_bpe_train", "q_random_walk", "q_khop", "q_stream_anomaly",
    "q_ingest_pp",
    // round-9 pins
    "q_expectations", "q_kmv_overlap", "q_kmv_merge", "q_mlp_score",
    "q_maxsim_ann", "q_maxsim_postings",
    "q_importance_sample", "q_grpo_advantage", "q_hard_negatives",
    "q_curriculum", "q_span_corruption", "q_stream_pit", "q_rerank",
    "q_bm25_segments",
    // round-10 pins
    "q_bm25_merge", "q_rouge", "q_bleu", "q_ann_ivf_flat",
    // round-11 pins
    "q_bm25_tiered", "q_bleu_multi", "q_rouge_multi",
    "q_lm_backoff", "q_dsir", "q_rouge_l", "q_chrf", "q_distinct_n",
    "q_embedding_shift",
    // round-12 pins
    "q_ann_segments", "q_ann_merge", "q_chrf_sampled")
}
