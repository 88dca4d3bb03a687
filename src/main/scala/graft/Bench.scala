package graft
import org.apache.spark.sql.SparkSession
object Bench {

  /** Fixed CPU-calibration canary: sort 8 M LCG-generated longs on ONE
    * thread, 3 iterations, return the median in seconds.
    *
    * Purpose (VERDICT r4 §Performance): BENCH_r04 was contaminated by host
    * contention (2.2× median slowdown on untouched queries) and there was
    * no way to tell from the artifact alone. The canary is deterministic,
    * allocation-light, and single-threaded, so its runtime tracks effective
    * per-core speed (frequency scaling, CPU steal, oversubscription) and is
    * immune to Spark/JVM state. BASELINE.md records the unloaded-host
    * reference value; contamination factor = observed / reference.
    */
  /** Unloaded-host canary reference, measured 2026-08-13 on this VM (see
    * BASELINE.md §calibration). Emitted alongside each run's observed
    * canary so the artifact carries its own contamination factor.
    */
  val CalibRef: Double = 0.81

  def canary(): Double = {
    val n = 1 << 23 // 8 Mi longs = 64 MiB, ~0.5-1 s single-threaded
    def once(): Double = {
      val a = new Array[Long](n)
      var x = 0x9e3779b97f4a7c15L // fixed seed: identical work every call
      var i = 0
      while (i < n) { x = x * 6364136223846793005L + 1442695040888963407L; a(i) = x; i += 1 }
      val t0 = System.nanoTime()
      java.util.Arrays.sort(a)
      (System.nanoTime() - t0) / 1e9
    }
    val ts = Seq(once(), once(), once()).sorted
    ts(1)
  }

  /** The 63 queries of the CANONICAL r2 measurement (BENCH_r02.json,
    * total 64.8 s) — the suite has since doubled, so the raw total is
    * not comparable across rounds; the tail summary emits the subtotal
    * over exactly this set so every artifact carries the
    * apples-to-apples number against the canonical baseline.
    */
  val CanonicalR2: Set[String] = Set(
    "q_agg_distinct", "q_agg_hash", "q_ann_ivf", "q_ann_lsh", "q_anti",
    "q_approx_distinct", "q_asof_join", "q_auto_date", "q_auto_date_agg",
    "q_cosine_near", "q_cosine_near_blocked", "q_cube", "q_dedup_embedding",
    "q_dedup_exact", "q_dedup_key", "q_dedup_minhash", "q_dedup_ngram",
    "q_dedup_simhash", "q_except", "q_filter", "q_fingerprint",
    "q_grouping_sets", "q_ingest_auto_date", "q_ingest_pp", "q_intersect",
    "q_join_broadcast", "q_join_multi", "q_join_salted", "q_join_smj",
    "q_knn_cosine", "q_lang_id", "q_meta_stats", "q_mm_decode",
    "q_mm_frames", "q_mm_resize", "q_multimodal_join", "q_multimodal_meta",
    "q_nth_working_day", "q_pairwise_near", "q_publish_date",
    "q_quality_score", "q_quantiles", "q_range_join", "q_rollup",
    "q_scalar_array", "q_scalar_date", "q_scalar_json", "q_scalar_math",
    "q_scalar_string", "q_semi", "q_stream_dedup", "q_stream_join",
    "q_stream_window", "q_text_stats", "q_token_count", "q_top_terms",
    "q_topk", "q_topk_per_key", "q_union", "q_url_source", "q_window_lag",
    "q_window_rank", "q_window_running")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Per-query MEDIAN of n runs: single-shot numbers on this host swing
    // 2-3× (documented in BASELINE.md), which round 1 paid for with one
    // unexplainable 10 s outlier. Medians of 3 suppress one-off spikes.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val spark = Sessions.local(cpus.toInt)

    // Full materialization, no output: count() would let Spark prune every
    // column and elide final sorts, timing a different (cheaper) plan.
    def exec(name: String): Double = {
      val t0 = System.nanoTime()
      // NonFatal only: after an OOM the JVM is not fit to time anything
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] $name failed: ${e.getClass.getName}: ${e.getMessage}")
          return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }

    // Optional subset (profiling aid): bench only these.
    val only = SparkEntry.only

    // Warm the session (codegen compiler, parquet footer reads, shuffle
    // machinery) so per-query numbers are steady-state. Under a subset
    // run, warm WITH subset members: the default pair reads tables a
    // scale-path-only directory (the sf10 ledger) doesn't carry.
    only match {
      case Some(ns) => ns.toSeq.sorted.take(2).foreach(exec)
      case None => exec("q_filter"); exec("q_dedup_exact")
    }
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    // Round-robin over the whole suite `runs` times (not back-to-back
    // repeats of one query) so a transient host stall hits at most one
    // sample of each query. Canary samples bracket the suite (start /
    // after each pass) so a contention window anywhere in the run shows
    // up in at least one of them.
    val calibStart = canary()
    val calibMid = collection.mutable.ArrayBuffer.empty[Double]
    val samples: Seq[Seq[Double]] =
      (1 to runs).map { pass =>
        val s = names.map(exec)
        if (pass < runs) calibMid += canary()
        s
      }
    val calibEnd = canary()
    val calib = (calibStart +: calibMid.toSeq) :+ calibEnd
    def median(xs: Seq[Double]): Double = {
      val ok = xs.filter(_ >= 0)
      if (ok.isEmpty) -1.0
      else ok.sorted.apply((ok.size - 1) / 2)
    }
    val results = names.zipWithIndex.map { case (n, i) =>
      n -> median(samples.map(_(i)))
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","runs":$runs,"stat":"median"}""")
    // Compact summary LAST (VERDICT r4 #1): the driver keeps only the tail
    // of stdout, so BENCH_r03/r04 lost the head-of-line total to
    // truncation. Everything needed to grade the run — total, query count,
    // and the contamination canary — must survive on this one short line.
    val calibJson = calib.map(c => f"$c%.3f").mkString("[", ",", "]")
    val calibMed = { val s = calib.sorted; s((s.size - 1) / 2) }
    // apples-to-apples vs the canonical 64.8 s: subtotal over exactly
    // the r2 query set (the full suite has since doubled in size)
    val r2 = results.filter(r => CanonicalR2(r._1) && r._2 >= 0)
    println(f"""{"total":$total%.2f,"n":${results.count(_._2 >= 0)},"failed":${results.count(_._2 < 0)},"subtotal_r2":${r2.map(_._2).sum}%.2f,"n_r2":${r2.size},"calib_s":$calibJson,"calib_median_s":$calibMed%.3f,"calib_ref_s":$CalibRef,"sf":"$sfDir"}""")
    spark.stop()
  }
}
