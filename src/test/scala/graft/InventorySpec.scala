package graft

import org.scalatest.funsuite.AnyFunSuite

/** The QA-surface RATCHET (r9) — the structural fix for two rounds of
  * "a query landed in the end-of-round snapshot with no hardening":
  * every DECLARED query must be explicitly triaged into the repo's
  * verification surfaces, and a new `Q(...)` fails this suite until it
  * is. No Spark session — pure set algebra over the companion ledgers
  * plus the committed artifacts, so the whole audit costs milliseconds
  * and runs on every `sbt test`.
  *
  * Surfaces audited:
  *  - plan shape: exactly one `plans/current/<q>.txt` per declared query
  *    (the [[PlanDump]] ledger), and no file for anything else;
  *  - partition invariance: PartitionInvarianceSpec.shuffleSensitive ∪
  *    a documented exemption below;
  *  - correctness oracle: SparkEntry.oracleSql ∪ the by-design
  *    engine-specific-sketch allowlist (each law-verified by its own
  *    green spec).
  *
  * r10 hardening (VERDICT r9 missing #4): exemptions are PER-NAME DATED
  * REASONS, not per-block prose — each entry is
  * `name -> "rN: why this specific query needs no sweep"`, the r9-era
  * entries are frozen in a grandfather ledger, and the ratchet meta
  * test rejects any NEW entry whose tag predates r10 or whose reason is
  * thin. The list can shrink freely; growing it costs a dated,
  * reviewable justification in the diff.
  */
class InventorySpec extends AnyFunSuite {

  private val declared: Set[String] = SparkEntry.queries.keySet.toSet

  test("plan surface: every declared query has exactly one plans/current file") {
    val files = {
      val listing = java.nio.file.Files.list(java.nio.file.Paths.get("plans/current"))
      try {
        import scala.jdk.CollectionConverters._
        listing.iterator().asScala.map(_.getFileName.toString).toSeq
      } finally listing.close()
    }
    val planned = files.filter(_.endsWith(".txt")).map(_.stripSuffix(".txt")).toSet
    val missing = declared -- planned
    assert(missing.isEmpty,
      s"declared queries with no plan file (run graft.PlanDump): ${missing.toSeq.sorted.mkString(", ")}")
    val strays = files.filterNot(f => f.endsWith(".txt") && declared(f.stripSuffix(".txt")))
    assert(strays.isEmpty, s"plan files naming no declared query: ${strays.sorted.mkString(", ")}")
  }

  /** Queries outside the 4-vs-32-partition sweep, by structural class.
    * The sweep list itself is in PartitionInvarianceSpec (one place).
    */
  private val invarianceExempt: Map[String, String] = Map(
    // per-row projections + total-order output
    "q_filter" -> "r9: per-row predicate + total-order sort; no data-scale shuffle whose partitioning could matter",
    "q_topk" -> "r9: TakeOrderedAndProject funnel; per-partition top-k merge is order-free by construction",
    "q_sample_hash" -> "r9: per-row exact-integer hash membership; shuffle-free",
    "q_split_assign" -> "r9: per-row exact-integer hash bucketing; shuffle-free",
    "q_scalar_array" -> "r9: per-row projection; shuffle-free",
    "q_scalar_date" -> "r9: per-row projection; shuffle-free",
    "q_scalar_json" -> "r9: per-row projection; shuffle-free",
    "q_scalar_math" -> "r9: per-row projection; shuffle-free",
    "q_scalar_string" -> "r9: per-row projection; shuffle-free",
    "q_normalize" -> "r9: moments are exact decimals (order-free sums); per-row z is deterministic IEEE on them",
    "q_fingerprint" -> "r9: per-row md5; shuffle-free",
    "q_lang_id" -> "r9: per-row argmax projection; shuffle-free",
    "q_token_count" -> "r9: per-row projection; shuffle-free",
    "q_quality_score" -> "r9: per-row projection; shuffle-free",
    "q_pii_redact" -> "r9: per-row regexp projection; shuffle-free",
    "q_repetition" -> "r9: per-row gram-stats projection; shuffle-free",
    "q_text_normalize" -> "r9: per-row regexp projection; shuffle-free",
    "q_chunk_overlap" -> "r9: per-row explode at scan speed; emitted chunks are a pure row function",
    "q_weighted_sample" -> "r9: per-row priority projection + TakeOrdered funnel; zero exchanges",
    "q_unpivot" -> "r9: per-row Expand; shuffle-free",
    "q_span_corruption" -> "r9: per-row denoising projection; shuffle-free",
    // approx percentile sketch
    "q_quantiles" -> "r9: merge-order-sensitive percentile sketch — a sweep would pin the merge tree, not a contract; QuantileSpec bounds rank error",
    // projection + TakeOrdered funnels
    "q_ann_ivf" -> "r9: per-row argmin assignment + TakeOrdered funnel; stat-only exchanges",
    "q_ann_pq" -> "r9: per-row ADC chain + TakeOrdered funnel; stat-only exchanges",
    "q_knn_cosine" -> "r9: per-row cosine + TakeOrdered funnel; zero data-scale exchanges",
    "q_sql_knn" -> "r9: the same funnel through SQL; identical plan",
    "q_ann_lsh" -> "r9: per-row signature filter + TakeOrdered funnel",
    "q_maxsim" -> "r9: per-row 16-cosine projection + TakeOrdered funnel",
    "q_maxsim_ann" -> "r9: per-row routed filter + rescore + TakeOrdered funnel; zero exchanges",
    // driver-looped iteratives behind Materialize checkpoints
    "q_pagerank" -> "r9: exact fixed-point integer rounds; GraphSpec re-derives every rank — partitioning cannot move a bit",
    "q_embedding_cc" -> "r9: min-label propagation rounds; DedupSpec/GraphSpec closure laws fix the result",
    "q_kmeans" -> "r9: exact-decimal Lloyd rounds; KMeansSpec pins books ≡ trainer output",
    "q_semdedup" -> "r9: frozen-codebook assignment + CC rounds; the composite oracle fixes the result",
    "q_bpe_train" -> "r9: argmax-per-round loop; VocabSpec brute-force cross-check fixes every round",
    "q_bpe_train_char" -> "r9: same loop, char alphabet",
    "q_bpe_apply" -> "r9: deterministic rule replace over the trained table",
    "q_bpe_vocab" -> "r9: groupBy over the final corpus state fixed by the training loop",
    // streaming replays (micro-batch boundaries are the risk axis)
    "q_stream_anomaly" -> "r9: stream-static broadcast join replay; ReplaySpec trigger laws cover the risk axis",
    "q_stream_cdc" -> "r9: commutative-monoid state fold; ReplaySpec 5-batch split law covers arrival order",
    "q_stream_dedup" -> "r9: watermarked dedup replay; ReplaySpec holds the batch-DISTINCT law",
    "q_stream_funnel" -> "r9: suffix-fold state replay; ReplaySpec split law",
    "q_stream_incremental_dedup" -> "r9: NoTimeout seen-set replay; ReplaySpec checkpoint-restart law",
    "q_stream_join" -> "r9: symmetric-hash join replay; trigger-invariance is the oracle claim itself",
    "q_stream_join_outer" -> "r9: outer join replay; ReplaySpec proves verdicts survive batch boundaries",
    "q_stream_quality" -> "r9: stateless projection; trigger-invariant by construction",
    "q_stream_sample" -> "r9: sharded bottom-k state; ReplaySpec displacement law",
    "q_stream_sessions" -> "r9: sessionization state; ReplaySpec arrival-order law",
    "q_stream_sliding" -> "r9: overlapping-window state; ReplaySpec multi-batch law",
    "q_stream_topk" -> "r9: rank over drained sink; the replay is the audited unit",
    "q_stream_window" -> "r9: tumbling-window replay; ReplaySpec exactly-once law",
    "q_stream_pit" -> "r9: O(entities) serving state; ReplaySpec serve-from-past law + plain-Scala re-derivation",
    // lake-layout / metadata ops (file-level properties)
    "q_partition_prune" -> "r9: result is directory pruning, proven by the plan pin + PartitionedSpec FS laws",
    "q_compact" -> "r9: file-count collapse is the property; PartitionedSpec asserts it at the FS level",
    "q_manifest_skip" -> "r9: driver-side file skipping; PartitionedSpec soundness law",
    "q_time_travel" -> "r9: version visibility is an FS property; PartitionedSpec laws",
    "q_vacuum" -> "r9: lifecycle deletes are FS-level; PartitionedSpec idempotence law",
    "q_orc_roundtrip" -> "r9: format round trip; the oracle hash is the bit-fidelity audit",
    "q_jsonl_roundtrip" -> "r9: format round trip; the oracle hash is the byte-fidelity audit",
    // ingest + calendar
    "q_ingest_pp" -> "r9: shuffle-free pinned ingest scan",
    "q_ingest_auto_date" -> "r9: global max over the fixture; order-free monoid",
    "q_auto_date" -> "r9: global max; order-free monoid",
    "q_auto_date_agg" -> "r9: typed-Aggregator max; AutoDateAggSpec equivalence",
    "q_url_source" -> "r9: DSv2 scan, shuffle-free",
    "q_url_source_unquoted" -> "r9: DSv2 scan, shuffle-free",
    "q_meta_stats" -> "r9: one-row metadata projection",
    "q_nth_working_day" -> "r9: calendar scalar projection",
    "q_publish_date" -> "r9: calendar scalar projection",
    // multimodal object stages
    "q_mm_audio" -> "r9: per-row batch decode, no shuffle",
    "q_mm_decode" -> "r9: per-row batch decode, no shuffle",
    "q_mm_decode_ppm" -> "r9: per-row batch decode, no shuffle",
    "q_mm_frames" -> "r9: per-row demux fan-out, no shuffle",
    "q_mm_phash" -> "r9: per-row hash over the decode seam, no shuffle",
    "q_mm_resize" -> "r9: per-row scale, no shuffle",
    "q_multimodal_join" -> "r9: broadcast-dim equi-join of two modality projections; no data-scale shuffle",
    "q_multimodal_meta" -> "r9: per-row sha256, no shuffle",
    "q_ingest_quarantine" -> "r12: per-row line classification + reason-partitioned write — no data-scale exchange anywhere; the fixture routing is IngestSpec-asserted",
    "q_stream_dedup_queue" -> "r12: watermarked dedup replay through the queue source; the projected key set is batch-split-invariant (the q_stream_dedup argument) and ReplaySpec holds the parity law",
    "q_unigram_lm" -> "r13: exact integer DP with total tiebreaks behind per-round Materialize (the q_bpe_train class); VocabSpec re-derives the full vocabulary driver-side — partitioning cannot move a bit",
    "q_unigram_apply" -> "r13: the same exact-integer DP plus an order-free per-doc BIGINT sum (the q_bpe_apply class); VocabSpec re-derives every doc's token count driver-side",
    "q_stream_window_queue" -> "r13: drained append windowed aggregation through the queue source — trigger- and source-invariant by the q_stream_window argument; ReplaySpec holds the batch parity law",
    "q_stream_sessions_queue" -> "r13: drained sessionization through the queue source — a pure function of event times once the sentinels flush every fragment (the q_stream_sessions argument); ReplaySpec holds the parity law",
    "q_concurrent_commit" -> "r13: commit-log state is FS-level (the q_time_travel class) — the racing writers' final head is order-invariant by construction and PartitionedSpec's latch race proves linear history; the read side is one order-free decimal aggregate",
    "q_mm_png" -> "r13: per-row batch decode, no shuffle (the q_mm_decode_ppm class)",
    "q_stream_join_queue" -> "r14: symmetric-hash range-join replay through two queue sources — INNER emission is trigger- and source-invariant (the q_stream_join argument); ReplaySpec holds the parity law",
    "q_avro_roundtrip" -> "r14: format round trip + per-row filter/projection; the oracle hash is the bit-fidelity audit (the q_orc_roundtrip class)",
    "q_mm_jpeg" -> "r14: per-row batch encode/decode, no shuffle (the q_mm_png class); the DC plane is exact integer arithmetic so partitioning cannot move a bit",
    "q_commit_checkpoint" -> "r14: commit-log state is FS-level (the q_concurrent_commit class) — sequential appends + deterministic truncation; the read side is one order-free decimal aggregate",
    "q_bloom_skip" -> "r14: the bloom manifest is layout-level FS state (the q_manifest_skip class) and the probe is a deterministic hash; the declared read ends in a total-order sort over one user's rows",
    "q_wordpiece_train" -> "r14: exact integer quantized-score argmax with total (pa, pb) tiebreaks over order-free weighted sums (the q_bpe_train class); partitioning cannot move a bit",
    "q_wordpiece_apply" -> "r14: greedy maximum munch is a pure per-word function of the frozen vocab plus an order-free per-doc BIGINT sum (the q_unigram_apply class)")

  test("invariance surface: every declared query is swept at 4-vs-32 partitions or exempt") {
    val swept = PartitionInvarianceSpec.shuffleSensitive.toSet
    val missing = declared -- swept -- invarianceExempt.keySet
    assert(missing.isEmpty,
      s"declared queries with NO invariance triage: ${missing.toSeq.sorted.mkString(", ")}")
    val stale = invarianceExempt.keySet & swept
    assert(stale.isEmpty, s"swept queries still in invarianceExempt: ${stale.toSeq.sorted}")
    val ghosts = (swept ++ invarianceExempt.keySet) -- declared
    assert(ghosts.isEmpty, s"ledger entries for undeclared queries: $ghosts")
  }

  /** The invariance-exemption names grandfathered at the r10 freeze —
    * exactly the r9 list, reason-tagged `r9:`. A name OUTSIDE this set
    * may only enter the exemption map with a tag of its own round
    * (`r10:` or later): the dated justification the diff shows. Never
    * add to this set — it exists so the r9 backlog didn't need fake
    * dates, and it only shrinks (the staleness assert above evicts).
    */
  private val invarianceExemptGrandfather: Set[String] = Set(
    "q_filter", "q_topk", "q_sample_hash", "q_split_assign",
    "q_scalar_array", "q_scalar_date", "q_scalar_json", "q_scalar_math",
    "q_scalar_string", "q_normalize", "q_fingerprint", "q_lang_id",
    "q_token_count", "q_quality_score", "q_pii_redact", "q_repetition",
    "q_text_normalize", "q_chunk_overlap", "q_weighted_sample",
    "q_unpivot", "q_span_corruption", "q_quantiles",
    "q_ann_ivf", "q_ann_pq", "q_knn_cosine", "q_sql_knn", "q_ann_lsh",
    "q_maxsim", "q_maxsim_ann",
    "q_pagerank", "q_embedding_cc", "q_kmeans", "q_semdedup",
    "q_bpe_train", "q_bpe_train_char", "q_bpe_apply", "q_bpe_vocab",
    "q_stream_anomaly", "q_stream_cdc", "q_stream_dedup",
    "q_stream_funnel", "q_stream_incremental_dedup", "q_stream_join",
    "q_stream_join_outer", "q_stream_quality", "q_stream_sample",
    "q_stream_sessions", "q_stream_sliding", "q_stream_topk",
    "q_stream_window", "q_stream_pit",
    "q_partition_prune", "q_compact", "q_manifest_skip", "q_time_travel",
    "q_vacuum", "q_orc_roundtrip", "q_jsonl_roundtrip",
    "q_ingest_pp", "q_ingest_auto_date", "q_auto_date", "q_auto_date_agg",
    "q_url_source", "q_url_source_unquoted", "q_meta_stats",
    "q_nth_working_day", "q_publish_date",
    "q_mm_audio", "q_mm_decode", "q_mm_decode_ppm", "q_mm_frames",
    "q_mm_phash", "q_mm_resize", "q_multimodal_join", "q_multimodal_meta")

  test("exemption ratchet: every exemption carries a dated per-name reason; new names need an r10+ tag") {
    val tagged = raw"^r(\d+): .{12,}".r
    invarianceExempt.foreach { case (name, reason) =>
      val m = tagged.findFirstMatchIn(reason)
      assert(m.nonEmpty,
        s"invarianceExempt($name): reason must be 'rN: <specific structural justification>' — got '$reason'")
      val round = m.get.group(1).toInt
      if (!invarianceExemptGrandfather(name))
        assert(round >= 10,
          s"invarianceExempt($name): a NEW exemption must carry its own round tag (r10+), " +
            s"not inherit the grandfathered era — got r$round")
    }
    // the grandfather ledger may only shrink: a name in it that has
    // left the exemption map must be deleted from the ledger too, so
    // the frozen set can never silently re-admit an old name later
    val gone = invarianceExemptGrandfather -- invarianceExempt.keySet
    assert(gone.isEmpty,
      s"invarianceExempt grandfather ledger holds names no longer exempt (delete them): ${gone.toSeq.sorted}")
  }

  /** The by-design rows-only queries: engine-specific sketches with no
    * ANSI-SQL-expressible oracle, each carrying its own law spec.
    */
  private val noOracleByDesign: Set[String] = Set(
    "q_approx_distinct", // HLL++ — law-spec'd in QualityProfileSpec
    "q_quantiles", // approx percentile sketch — QuantileSpec
    "q_cms_terms", // count-min sketch — CmsSpec
    "q_decontaminate_bloom", // Bloom filter — DedupSpec false-positive law
    "q_dedup_simhash", // simhash bit-bands — DedupSpec hamming law
    "q_mm_phash", // perceptual hash — MultimodalSpec
    "q_profile_approx") // HLL++ profile — QualityProfileSpec

  test("oracle surface: declared minus oracled is EXACTLY the by-design sketch list") {
    val unoracled = declared -- SparkEntry.oracleSql.keySet
    assert(unoracled == noOracleByDesign,
      s"unexpectedly missing oracles: ${(unoracled -- noOracleByDesign).toSeq.sorted}; " +
        s"allowlisted but now oracled: ${(noOracleByDesign -- unoracled).toSeq.sorted}")
  }

  test("SURVEY.md documents every declared query (the r8 no-SURVEY-row class)") {
    val survey = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("SURVEY.md")), "UTF-8")
    val undocumented = declared.filterNot(n => survey.contains(s"`$n`"))
    assert(undocumented.isEmpty,
      s"declared queries with no SURVEY.md mention: ${undocumented.toSeq.sorted.mkString(", ")}")
  }

  test("SURVEY.md closing gate matches the live inventory (the r8 drift class)") {
    val src = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("SURVEY.md")), "UTF-8")
    val gate = raw"Closing gate \(r\d+\):\s+(\d+)\s+tests green,\s+(\d+)/(\d+)\s+sf0\.01 oracles,\s+(\d+)\s+declared".r
    gate.findFirstMatchIn(src.replaceAll("\\s+", " ")) match {
      case Some(m) =>
        assert(m.group(2) == m.group(3), "gate must state N/N oracles")
        assert(m.group(2).toInt == SparkEntry.oracleSql.size,
          s"gate says ${m.group(2)} oracles; SparkEntry declares ${SparkEntry.oracleSql.size}")
        assert(m.group(4).toInt == declared.size,
          s"gate says ${m.group(4)} declared; SparkEntry declares ${declared.size}")
      case None => fail("SURVEY.md closing gate sentence not found / format drifted")
    }
  }

  test("subset filter: SPARK_GRAFT_ONLY names are trimmed and empty entries dropped") {
    assert(SparkEntry.subset(None).isEmpty)
    assert(SparkEntry.subset(Some(" q_a, q_b,,q_c ,")).contains(Set("q_a", "q_b", "q_c")))
  }
}
