package graft.ops

import graft.SparkSpec

/** TextOps plan-economy regressions. The family's per-query semantics
  * are oracled (t2); what specs must pin is the job structure — the
  * round-3 q_tfidf ran an EAGER count() while BUILDING the plan (a
  * whole extra corpus scan as a separate job before the real one).
  */
class TextOpsSpec extends SparkSpec {

  test("q_tfidf: building the plan schedules zero jobs (corpus-size scan is fused)") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    // Baseline: a bare table read also schedules jobs at build time
    // (parquet footer/schema reads) — measure the DELTA, not zero.
    Tables.documents(spark, sf0001)
    spark.sparkContext.addSparkListener(l)
    try {
      val base = {
        Tables.documents(spark, sf0001); Tables.documents(spark, sf0001)
        Tables.documents(spark, sf0001)
        var last = -1
        var stable = 0
        while (stable < 3) {
          Thread.sleep(100)
          val now = jobs.get
          if (now == last) stable += 1 else { stable = 0; last = now }
        }
        jobs.get
      }
      jobs.set(0)
      val df = TextOps.qTfidf.fn(spark, sf0001) // build only — no action
      // listener bus is async; wait for the count to go quiet
      // (IngestSpec pattern)
      var last = -1
      var stable = 0
      while (stable < 3) {
        Thread.sleep(100)
        val now = jobs.get
        if (now == last) stable += 1 else { stable = 0; last = now }
      }
      assert(jobs.get <= base,
        s"plan construction ran ${jobs.get} job(s) vs $base for the bare reads — the eager count() is back")
      assert(df.columns.sameElements(Array("doc_id", "term", "tf", "df", "score")))
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("inverted index: gap decode round-trips to the sorted posting list, blocks exactly 128") {
    import org.apache.spark.sql.functions._
    // ground truth: the distinct (term, doc) postings straight off the corpus
    val truth = Tables.documents(spark, sf0001)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .distinct().collect()
      .groupBy(_.getString(1))
      .map { case (t, rs) => t -> rs.map(_.getLong(0)).sorted.toSeq }
    val blocks = TextOps.qInvertedIndex.fn(spark, sf0001).collect()
    assert(blocks.nonEmpty)
    val byTerm = blocks.groupBy(_.getString(0))
    assert(byTerm.size == 12, "term universe must be the df top-12")
    for ((term, bs) <- byTerm) {
      val ordered = bs.sortBy(_.getInt(1))
      // block ids are dense from 0
      assert(ordered.map(_.getInt(1)).toSeq == ordered.indices, s"$term: block ids not dense")
      // every block is exactly 128 postings except a shorter last one
      val sizes = ordered.map(_.getInt(2)).toSeq
      assert(sizes.init.forall(_ == 128), s"$term: interior block not 128")
      assert(sizes.last >= 1 && sizes.last <= 128, s"$term: bad tail block")
      // decode: cumulative sum of gaps, seeded at 0 (first gap is absolute)
      val gaps = ordered.flatMap(_.getString(4).split(",").map(_.toLong))
      val decoded = gaps.scanLeft(0L)(_ + _).drop(1)
      assert(decoded.toSeq == truth(term),
        s"$term: gap decode diverged from the corpus posting list")
      // first_doc is the block's first decoded posting
      val starts = sizes.scanLeft(0)(_ + _).init
      assert(ordered.map(_.getLong(3)).toSeq == starts.map(decoded(_)),
        s"$term: first_doc drifted from the decode")
      // postings strictly ascending => every gap after the first positive
      assert(decoded.sliding(2).forall(p => p.length < 2 || p(0) < p(1)),
        s"$term: decoded postings not strictly ascending")
    }
  }

  /** The q_bm25 rational tf-saturation term, re-derived as an exact
    * BigInt fraction (num, den): 44·tf·S / (20·tf·S + 6·S + 18·dl·N).
    */
  private def satTerm(tf: Long, dl: Long, n: Long, s: Long): (BigInt, BigInt) =
    (BigInt(44) * tf * s, BigInt(20) * tf * s + BigInt(6) * s + BigInt(18) * dl * n)

  test("bm25 ranking law: adding an occurrence of a query term never lowers its score (df fixed)") {
    // adding one occurrence bumps BOTH tf and dl; cross-multiplied BigInt
    // comparison — no IEEE rounding trusted. Holds because tf ≤ dl.
    for {
      n <- Seq(1L, 10L, 1000L, 1000000L)
      s <- Seq(50L, 5000L, 50000000L)
      dl <- Seq(1L, 8L, 100L, 10000L)
      tf <- Seq(0L, 1L, 3L, dl / 2, dl).distinct if tf <= dl && dl <= s
    } {
      val (na, da) = satTerm(tf, dl, n, s)
      val (nb, db) = satTerm(tf + 1, dl + 1, n, s + 1)
      // compare vs the SAME corpus constants first (the pure per-doc law)
      val (nb2, db2) = satTerm(tf + 1, dl + 1, n, s)
      assert(nb2 * da >= na * db2, s"score dropped on +1 occurrence at (tf=$tf,dl=$dl,n=$n,s=$s)")
      // and monotone in tf at fixed dl (the saturation curve rises)
      val (nc, dc) = satTerm(tf + 1, dl, n, s)
      assert(nc * da >= na * dc, s"saturation term fell in tf at (tf=$tf,dl=$dl,n=$n,s=$s)")
      // growing the rest of the corpus (S+1) keeps the law: the added
      // occurrence is also corpus growth when the doc is in-corpus
      assert(nb * da >= na * db, s"score dropped on +1 occurrence incl. S at (tf=$tf,dl=$dl,n=$n,s=$s)")
    }
  }

  test("bm25_postings probe equals full-scan bm25 on matched docs (the hash-oracle claim, locally)") {
    val rows = TextOps.qBm25Postings.fn(spark, sf0001).collect()
    val probe = rows.map(r => (r.getLong(0), r.getDouble(3)))
    val full = TextOps.qBm25.fn(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getDouble(6))).toMap
    assert(probe.nonEmpty)
    for ((id, score) <- probe)
      assert(full.get(id).contains(score),
        s"doc $id: probe score $score != full-scan ${full.get(id)} (bit equality required)")
    // the one probe law: every index shape — single build, two segments,
    // their merge, the post-policy tiers — returns the same rows, bit for bit
    val single = rows.map(_.toSeq).toSeq
    for (q <- Seq(TextOps.qBm25Segments, TextOps.qBm25Merge, TextOps.qBm25Tiered))
      assert(q.fn(spark, sf0001).collect().map(_.toSeq).toSeq == single,
        s"${q.name} probe rows != q_bm25_postings rows")
  }

  test("segment merge preserves the index row-for-row: merged layout == single-build layout") {
    // the q_dv_compact debt-payment law applied to the segmented index:
    // merging seg_a+seg_b by index algebra (postings concat, df/stats
    // re-sum) must reproduce EVERY row of the index a single build over
    // the whole corpus produces — no posting lost, no stat drifted
    val merged = TextOps.mergedSegmentLayout(spark, sf0001)
    val single = TextOps.invertedIndexLayout(spark, sf0001)
    def rows(dir: String, part: String): Set[Seq[Any]] =
      spark.read.parquet(s"$dir/$part").collect().map(_.toSeq).toSet
    val mp = rows(merged, "postings.parquet")
    val sp = rows(single, "postings.parquet")
    assert(mp == sp,
      s"postings diverged: ${(mp diff sp).take(3)} only-merged; ${(sp diff mp).take(3)} only-single")
    assert(rows(merged, "dict.parquet") == rows(single, "dict.parquet"),
      "per-term df diverged — segment dfs did not re-sum to the corpus df")
    assert(rows(merged, "stats.parquet") == rows(single, "stats.parquet"),
      "corpus constants diverged — n_docs/sum_dl are not the segment sums")
    // and the probed result is bit-identical to the single-segment probe
    val a = TextOps.qBm25Merge.fn(spark, sf0001).collect().map(_.toSeq).toSeq
    val b = TextOps.qBm25Postings.fn(spark, sf0001).collect().map(_.toSeq).toSeq
    assert(a == b, "merged-segment probe result drifted from the single-build probe")
  }

  test("q_bleu: every pair's clipped n-gram precisions re-derived from raw text in plain Scala") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def grams(t: String, n: Int): Map[String, Long] =
      t.split(" ", -1).sliding(n).filter(_.length == n).map(_.mkString(" ")).toSeq
        .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    def clip(a: String, b: String, n: Int): Long = {
      val (ca, cb) = (grams(a, n), grams(b, n))
      ca.map { case (g, c) => math.min(c, cb.getOrElse(g, 0L)) }.sum
    }
    val expect = docs.groupBy(_._2).values.flatMap { ds =>
      val sorted = ds.sortBy(_._1)
      sorted.zip(sorted.tail).map { case ((a, _, ta), (b, _, tb)) =>
        (a, b) -> (clip(ta, tb, 1), clip(ta, tb, 2),
          ta.split(" ", -1).length.toLong, tb.split(" ", -1).length.toLong)
      }
    }.toMap
    val got = TextOps.qBleu.fn(spark, sf0001).collect()
    assert(got.nonEmpty && got.length == expect.size,
      s"pair universe drifted: got ${got.length}, expected ${expect.size}")
    got.foreach { r =>
      val key = (r.getAs[Long]("cand_id"), r.getAs[Long]("ref_id"))
      val (c1, c2, nc, nr) = expect(key)
      assert(r.getAs[Long]("clip1") == c1 && r.getAs[Long]("clip2") == c2, s"$key clips drifted")
      assert(r.getAs[Long]("n1_cand") == nc && r.getAs[Long]("n2_cand") == nc - 1 &&
        r.getAs[Long]("n1_ref") == nr, s"$key gram totals drifted")
      assert(math.abs(r.getAs[Double]("p1") - c1.toDouble / nc) < 1e-6, s"$key p1 drifted")
      assert(math.abs(r.getAs[Double]("p2") - c2.toDouble / (nc - 1)) < 1e-6, s"$key p2 drifted")
      assert(math.abs(r.getAs[Double]("bleu2")
        - math.sqrt((c1 * c2).toDouble / (nc * (nc - 1)))) < 1e-6, s"$key bleu2 drifted")
      assert(math.abs(r.getAs[Double]("len_ratio") - nc.toDouble / nr) < 1e-6,
        s"$key len_ratio drifted")
    }
  }

  test("q_bm25_tiered: the policy terminates at ≤ K segments, preserves every posting, and each step merged the two smallest") {
    val tiered = TextOps.tieredIndexLayout(spark, sf0001)
    val multi = TextOps.multiSegmentIndexLayout(spark, sf0001)
    val single = TextOps.invertedIndexLayout(spark, sf0001)
    def rows(dir: String, part: String): Seq[Seq[Any]] =
      spark.read.parquet(s"$dir/$part").collect().map(_.toSeq).toSeq
    // (1) termination: exactly the final_i dirs, i < K — no stray
    // segment, and no consumed intermediate merge left as dead data
    // (the Staged marker and its checksum are the layout's own metadata)
    val entries = new java.io.File(tiered).listFiles().map(_.getName)
      .filterNot(_.contains(Staged.Marker)).sorted.toSeq
    val finals = entries.filter(_.startsWith("final_"))
    assert(finals == (0 until TextOps.TieredK).map(i => s"final_$i"),
      s"policy left the wrong segment set: $finals")
    assert(entries == finals :+ "merge_log.parquet",
      s"layout holds more than final_* and merge_log.parquet: $entries")
    // (2) preservation: the union of final segments IS the single-build
    // index — every posting, every df, the corpus constants
    val fp = finals.flatMap(f => rows(s"$tiered/$f", "postings.parquet")).toSet
    val sp = rows(single, "postings.parquet").toSet
    assert(fp == sp,
      s"postings diverged: ${(fp diff sp).take(3)} only-tiered; ${(sp diff fp).take(3)} only-single")
    val fdict = finals.flatMap(f => rows(s"$tiered/$f", "dict.parquet"))
      .groupBy(_.head).map { case (t, rs) => (t, rs.map(_(1).asInstanceOf[Long]).sum) }
    val sdict = rows(single, "dict.parquet")
      .map(r => (r.head, r(1).asInstanceOf[Long])).toMap
    assert(fdict == sdict, "per-term df diverged across the post-policy segments")
    val fstats = finals.flatMap(f => rows(s"$tiered/$f", "stats.parquet"))
    assert(fstats.map(_.head.asInstanceOf[Long]).sum ==
      rows(single, "stats.parquet").head.head.asInstanceOf[Long],
      "n_docs diverged")
    // (3) the policy LAW replayed from the audit log: every merge took
    // the two smallest then-live segments (ties by name), and the log
    // length is exactly initial − final
    val log = spark.read.parquet(s"$tiered/merge_log.parquet")
      .orderBy("gen").collect()
      .map(r => (r.getAs[String]("left"), r.getAs[String]("right"),
        r.getAs[Long]("left_docs"), r.getAs[Long]("right_docs")))
    assert(log.length == TextOps.multiSegRanges.size - TextOps.TieredK,
      s"merge count ${log.length} != ${TextOps.multiSegRanges.size} - ${TextOps.TieredK}")
    var live = TextOps.multiSegRanges.map { case (seg, _, _) =>
      seg -> spark.read.parquet(s"$multi/$seg/stats.parquet")
        .head().getAs[Long]("n_docs")
    }.toMap
    log.zipWithIndex.foreach { case ((l, r, ld, rd), gen) =>
      val expected = live.toSeq.sortBy { case (n, c) => (c, n) }.take(2)
      assert(expected.map(_._1).toSet == Set(l, r),
        s"gen $gen merged ($l, $r) but the two smallest were ${expected.map(_._1)}")
      assert(live(l) == ld && live(r) == rd, s"gen $gen logged stale sizes")
      live = (live - l - r) + (s"m$gen" -> (ld + rd))
    }
    // (4) and the probe result is bit-identical to the single-build probe
    val a = TextOps.qBm25Tiered.fn(spark, sf0001).collect().map(_.toSeq).toSeq
    val b = TextOps.qBm25Postings.fn(spark, sf0001).collect().map(_.toSeq).toSeq
    assert(a == b, "post-policy probe result drifted from the single-build probe")
  }

  test("q_bleu_multi: every candidate's max-over-refs clips and closest-ref brevity re-derived in plain Scala") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def grams(t: String, n: Int): Map[String, Long] =
      t.split(" ", -1).sliding(n).filter(_.length == n).map(_.mkString(" ")).toSeq
        .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val text = docs.map(d => d._1 -> d._3).toMap
    val expect = docs.groupBy(_._2).values.flatMap { ds =>
      val ids = ds.map(_._1).sorted
      ids.zipWithIndex.flatMap { case (cand, i) =>
        val refs = ids.slice(i + 1, i + 4)
        if (refs.isEmpty) None
        else {
          def clip(n: Int): Long = {
            val ca = grams(text(cand), n)
            val refGrams = refs.map(r => grams(text(r), n))
            ca.map { case (g, c) =>
              math.min(c, refGrams.map(_.getOrElse(g, 0L)).max)
            }.sum
          }
          val nc = text(cand).split(" ", -1).length.toLong
          // closest reference length, ties to the SHORTER
          val rEff = refs.map(r => text(r).split(" ", -1).length.toLong)
            .sortBy(nr => (math.abs(nr - nc), nr)).head
          Some(cand -> (refs.length.toLong, clip(1), clip(2), nc, rEff))
        }
      }
    }.toMap
    val got = TextOps.qBleuMulti.fn(spark, sf0001).collect()
    assert(got.nonEmpty && got.length == expect.size,
      s"candidate universe drifted: got ${got.length}, expected ${expect.size}")
    got.foreach { r =>
      val cand = r.getAs[Long]("cand_id")
      val (nRefs, c1, c2, nc, rEff) = expect(cand)
      assert(r.getAs[Long]("n_refs") == nRefs, s"$cand n_refs drifted")
      assert(r.getAs[Long]("clip1") == c1 && r.getAs[Long]("clip2") == c2,
        s"$cand clips drifted: got (${r.getAs[Long]("clip1")}, ${r.getAs[Long]("clip2")}), expected ($c1, $c2)")
      assert(r.getAs[Long]("n1_cand") == nc && r.getAs[Long]("n2_cand") == nc - 1,
        s"$cand gram totals drifted")
      assert(r.getAs[Long]("r_eff") == rEff, s"$cand r_eff drifted")
      assert(math.abs(r.getAs[Double]("p1") - c1.toDouble / nc) < 1e-6, s"$cand p1 drifted")
      assert(math.abs(r.getAs[Double]("bleu2")
        - math.sqrt((c1 * c2).toDouble / (nc * (nc - 1)))) < 1e-6, s"$cand bleu2 drifted")
      assert(math.abs(r.getAs[Double]("len_ratio") - nc.toDouble / rEff) < 1e-6,
        s"$cand len_ratio drifted")
    }
    // and the degenerate case: a candidate whose ref SET is a single doc
    // must score exactly like the 1-reference q_bleu pairing
    val single = TextOps.qBleu.fn(spark, sf0001).collect()
      .map(r => r.getAs[Long]("cand_id") ->
        (r.getAs[Long]("clip1"), r.getAs[Long]("clip2"), r.getAs[Long]("n1_ref"))).toMap
    val degenerate = got.filter(_.getAs[Long]("n_refs") == 1L)
    assert(degenerate.nonEmpty, "fixture has no single-ref candidates — the degenerate law is vacuous")
    degenerate.foreach { r =>
      val cand = r.getAs[Long]("cand_id")
      val (c1, c2, nr) = single(cand)
      assert(r.getAs[Long]("clip1") == c1 && r.getAs[Long]("clip2") == c2 &&
        r.getAs[Long]("r_eff") == nr,
        s"$cand: 1-ref multi scoring != q_bleu pairwise scoring")
    }
  }

  test("q_rouge_multi: best-match reference selection re-derived in plain Scala (exact f1 order, ties to lower ref)") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def counts(t: String): Map[String, Long] =
      t.split(" ", -1).groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val text = docs.map(d => d._1 -> d._3).toMap
    val expect = docs.groupBy(_._2).values.flatMap { ds =>
      val ids = ds.map(_._1).sorted
      ids.zipWithIndex.flatMap { case (cand, i) =>
        val refs = ids.slice(i + 1, i + 4)
        if (refs.isEmpty) None
        else {
          val ca = counts(text(cand))
          val nc = text(cand).split(" ", -1).length.toLong
          val scored = refs.map { r =>
            val cb = counts(text(r))
            val clip = ca.map { case (t, n) => math.min(n, cb.getOrElse(t, 0L)) }.sum
            val nr = text(r).split(" ", -1).length.toLong
            (r, clip, nr)
          }
          // exact rational f1 comparison: clip_a/(nc+nr_a) vs clip_b/(nc+nr_b)
          // cross-multiplied in BigInt; ties -> lower ref_id
          val best = scored.reduceLeft { (a, b) =>
            val cmp = (BigInt(a._2) * (nc + b._3)) compare (BigInt(b._2) * (nc + a._3))
            if (cmp > 0 || (cmp == 0 && a._1 < b._1)) a else b
          }
          Some(cand -> best)
        }
      }
    }.toMap
    val got = TextOps.qRougeMulti.fn(spark, sf0001).collect()
    assert(got.nonEmpty && got.length == expect.size,
      s"candidate universe drifted: got ${got.length}, expected ${expect.size}")
    got.foreach { r =>
      val cand = r.getAs[Long]("cand_id")
      val (bestRef, clip, nr) = expect(cand)
      assert(r.getAs[Long]("best_ref") == bestRef,
        s"$cand picked ref ${r.getAs[Long]("best_ref")}, exact-f1 best is $bestRef")
      assert(r.getAs[Long]("clip") == clip && r.getAs[Long]("n_ref") == nr,
        s"$cand clip/length drifted")
      val nc = r.getAs[Long]("n_cand")
      assert(math.abs(r.getAs[Double]("f1") - 2.0 * clip / (nc + nr)) < 1e-6,
        s"$cand f1 drifted")
    }
  }

  test("q_rouge: every pair's clipped overlap re-derived from raw text in plain Scala") {
    // independent formulation: token multisets as Scala Maps, clip =
    // Σ min counts, the same pairing rule re-walked from (doc_id, source)
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def counts(t: String): Map[String, Long] =
      t.split(" ", -1).groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val bySource = docs.groupBy(_._2).values.flatMap { ds =>
      val sorted = ds.sortBy(_._1)
      sorted.zip(sorted.tail).map { case ((a, _, ta), (b, _, tb)) =>
        val (ca, cb) = (counts(ta), counts(tb))
        val clip = ca.map { case (t, n) => math.min(n, cb.getOrElse(t, 0L)) }.sum
        (a, b) -> (clip, ta.split(" ", -1).length.toLong, tb.split(" ", -1).length.toLong)
      }
    }.toMap
    val got = TextOps.qRouge.fn(spark, sf0001).collect()
    assert(got.nonEmpty && got.length == bySource.size,
      s"pair universe drifted: got ${got.length}, expected ${bySource.size}")
    got.foreach { r =>
      val key = (r.getAs[Long]("cand_id"), r.getAs[Long]("ref_id"))
      val (clip, nc, nr) = bySource(key)
      assert(r.getAs[Long]("clip") == clip, s"$key clip drifted")
      assert(r.getAs[Long]("n_cand") == nc && r.getAs[Long]("n_ref") == nr,
        s"$key token lengths drifted")
      assert(math.abs(r.getAs[Double]("p") - clip.toDouble / nc) < 1e-6, s"$key p drifted")
      assert(math.abs(r.getAs[Double]("r") - clip.toDouble / nr) < 1e-6, s"$key r drifted")
      assert(math.abs(r.getAs[Double]("f1") - 2.0 * clip / (nc + nr)) < 1e-6,
        s"$key f1 drifted")
    }
  }

  test("q_rouge_l: every pair's LCS and F re-derived with an independent full-matrix DP") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def lcsRef(a: String, b: String): Long = {
      val x = a.split(" ", -1); val y = b.split(" ", -1)
      val m = Array.ofDim[Int](x.length + 1, y.length + 1)
      for (i <- 1 to x.length; j <- 1 to y.length)
        m(i)(j) =
          if (x(i - 1) == y(j - 1)) m(i - 1)(j - 1) + 1
          else math.max(m(i - 1)(j), m(i)(j - 1))
      m(x.length)(y.length).toLong
    }
    val expect = docs.groupBy(_._2).values.flatMap { ds =>
      val sorted = ds.sortBy(_._1)
      sorted.zip(sorted.tail).map { case ((a, _, ta), (b, _, tb)) =>
        (a, b) -> (lcsRef(ta, tb),
          ta.split(" ", -1).length.toLong, tb.split(" ", -1).length.toLong)
      }
    }.toMap
    val got = TextOps.qRougeL.fn(spark, sf0001).collect()
    assert(got.nonEmpty && got.length == expect.size,
      s"pair universe drifted: got ${got.length}, expected ${expect.size}")
    got.foreach { r =>
      val key = (r.getAs[Long]("cand_id"), r.getAs[Long]("ref_id"))
      val (l, nc, nr) = expect(key)
      assert(r.getAs[Long]("lcs") == l, s"$key lcs drifted")
      assert(r.getAs[Long]("n_cand") == nc && r.getAs[Long]("n_ref") == nr,
        s"$key token lengths drifted")
      assert(math.abs(r.getAs[Double]("p") - l.toDouble / nc) < 1e-6, s"$key p drifted")
      assert(math.abs(r.getAs[Double]("r") - l.toDouble / nr) < 1e-6, s"$key r drifted")
      assert(math.abs(r.getAs[Double]("f1") - 2.0 * l / (nc + nr)) < 1e-6,
        s"$key f1 drifted")
    }
    // metric law vs the clip sibling: LCS never exceeds the unigram
    // clip (an in-order common subsequence is a common multiset)
    val clips = TextOps.qRouge.fn(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("cand_id"), r.getAs[Long]("ref_id")) -> r.getAs[Long]("clip"))
      .toMap
    got.foreach { r =>
      val key = (r.getAs[Long]("cand_id"), r.getAs[Long]("ref_id"))
      assert(r.getAs[Long]("lcs") <= clips(key),
        s"$key: LCS ${r.getAs[Long]("lcs")} exceeds unigram clip ${clips(key)}")
    }
  }

  test("q_chrf: every pair's clips and reduced-form F re-derived in plain Scala") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2).replace(" ", "")))
    def grams(t: String, n: Int): Map[String, Long] =
      t.sliding(n).toSeq.filter(_.length == n)
        .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    def clip(a: String, b: String, n: Int): Long = {
      val (ca, cb) = (grams(a, n), grams(b, n))
      ca.map { case (g, c) => math.min(c, cb.getOrElse(g, 0L)) }.sum
    }
    val expect = docs.groupBy(_._2).values.flatMap { ds =>
      val sorted = ds.sortBy(_._1)
      sorted.zip(sorted.tail).map { case ((a, _, ta), (b, _, tb)) =>
        (a, b) -> (clip(ta, tb, 1), clip(ta, tb, 2),
          ta.length.toLong, tb.length.toLong)
      }
    }.toMap
    val got = TextOps.qChrf.fn(spark, sf0001).collect()
    assert(got.nonEmpty && got.length == expect.size,
      s"pair universe drifted: got ${got.length}, expected ${expect.size}")
    got.foreach { r =>
      val key = (r.getAs[Long]("cand_id"), r.getAs[Long]("ref_id"))
      val (c1, c2, nc, nr) = expect(key)
      assert(r.getAs[Long]("clip1") == c1 && r.getAs[Long]("clip2") == c2, s"$key clips drifted")
      assert(r.getAs[Long]("nc1") == nc && r.getAs[Long]("nc2") == math.max(nc - 1, 0) &&
        r.getAs[Long]("nr1") == nr && r.getAs[Long]("nr2") == math.max(nr - 1, 0),
        s"$key char totals drifted")
      // the reduced single-division form must equal the textbook
      // (1+β²)PR/(β²P+R) with β=2 — the algebra the scaladoc claims.
      // Denominators use the engine's greatest(·,0)-clamped lengths;
      // a zero denominator must surface as NULL (the nullif guard),
      // not a division artifact
      def fRef(c: Long, ncn: Long, nrn: Long): Double =
        if (c == 0) 0.0
        else { val p = c.toDouble / ncn; val rr = c.toDouble / nrn; 5.0 * p * rr / (4 * p + rr) }
      val (nc2, nr2) = (math.max(nc - 1, 0), math.max(nr - 1, 0))
      val (d1, d2) = (4 * nr + nc, 4 * nr2 + nc2)
      def checkF(field: String, c: Long, d: Long, ncn: Long, nrn: Long): Unit =
        if (d == 0) assert(r.isNullAt(r.fieldIndex(field)), s"$key $field: 0-denominator must be NULL")
        else {
          assert(math.abs(r.getAs[Double](field) - 5.0 * c / d) < 1e-6, s"$key $field drifted")
          assert(math.abs(r.getAs[Double](field) - fRef(c, ncn, nrn)) < 1e-6,
            s"$key reduced $field != textbook F_2")
        }
      checkF("f1", c1, d1, nc, nr)
      checkF("f2", c2, d2, nc2, nr2)
      if (d1 * d2 == 0) assert(r.isNullAt(r.fieldIndex("chrf2")), s"$key chrf2: must be NULL")
      else assert(math.abs(r.getAs[Double]("chrf2")
        - 5.0 * (c1 * d2 + c2 * d1) / (2.0 * d1 * d2)) < 1e-6, s"$key chrf2 drifted")
    }
  }

  test("q_chrf_sampled ≡ q_chrf restricted to the sampled pairs: the gate changes membership, never a value") {
    // re-derive the exact Knuth-hash membership in plain Scala (the
    // SamplingSpec bucket formula) so the subset claim is independent
    // of both engines' bucketSql parse
    def bucket(id: Long): Long =
      (id % 2147483647L + 313L) % 2147483647L * 2654435761L % 4294967296L % 100L
    val full = TextOps.qChrf.fn(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("cand_id"), r.getAs[Long]("ref_id")) -> r.toSeq).toMap
    val sampled = TextOps.qChrfSampled.fn(spark, sf0001).collect()
    assert(sampled.nonEmpty && sampled.length < full.size,
      s"sample must be a proper nonempty subset: ${sampled.length} of ${full.size}")
    val expectKeys = full.keySet.filter { case (cand, _) => bucket(cand) < 10 }
    assert(sampled.map(r => (r.getAs[Long]("cand_id"), r.getAs[Long]("ref_id"))).toSet
      == expectKeys, "sampled pair universe drifted from the hash membership")
    sampled.foreach { r =>
      val key = (r.getAs[Long]("cand_id"), r.getAs[Long]("ref_id"))
      assert(r.toSeq == full(key), s"$key: sampled row values drifted from the full metric")
    }
  }

  test("q_distinct_n: per-source totals, distincts and ratios re-derived in plain Scala") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val expect = docs.groupBy(_._1).map { case (src, ds) =>
      val unis = ds.flatMap(_._2.split(" ", -1))
      val bis = ds.flatMap(_._2.split(" ", -1).sliding(2).filter(_.length == 2)
        .map(_.mkString(" ")))
      src -> (unis.length.toLong, unis.distinct.length.toLong,
        bis.length.toLong, bis.distinct.length.toLong)
    }
    val got = TextOps.qDistinctN.fn(spark, sf0001).collect()
    assert(got.length == expect.size, "source universe drifted")
    got.foreach { r =>
      val (t1, d1, t2, d2) = expect(r.getAs[String]("source"))
      assert(r.getAs[Long]("n1_total") == t1 && r.getAs[Long]("n1_distinct") == d1 &&
        r.getAs[Long]("n2_total") == t2 && r.getAs[Long]("n2_distinct") == d2,
        s"${r.get(0)} counts drifted")
      assert(math.abs(r.getAs[Double]("distinct_1") - d1.toDouble / t1) < 1e-6)
      assert(math.abs(r.getAs[Double]("distinct_2") - d2.toDouble / t2) < 1e-6)
    }
  }

  test("q_lm_backoff: every doc's integer-bit surprisal re-derived in plain Scala (string grams, no hashes)") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def bucket(id: Long): Long =
      (id % 2147483647L) % 2147483647L * 2654435761L % 4294967296L % 100L
    def flog2(c: Long): Long = 63L - java.lang.Long.numberOfLeadingZeros(c)
    val train = docs.filter(d => bucket(d._1) < 90)
    val uni = train.flatMap(_._2.split(" ", -1))
      .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val nTrain = train.map(_._2.split(" ", -1).length.toLong).sum
    val bi = train.flatMap(_._2.split(" ", -1).sliding(2).filter(_.length == 2)
        .map(_.mkString(" ")))
      .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val expect = docs.map { case (id, t) =>
      val w = t.split(" ", -1)
      val pos = w.sliding(2).filter(_.length == 2).toSeq
      val bits = pos.map { p =>
        bi.get(p.mkString(" ")) match {
          case Some(c2) => flog2(c2) - flog2(uni(p(0)))
          case None => -2L + flog2(uni.getOrElse(p(1), 0L) + 1) - flog2(nTrain + 1)
        }
      }.sum
      id -> (pos.length.toLong,
        pos.count(p => !bi.contains(p.mkString(" "))).toLong, bits)
    }.toMap
    val got = TextOps.qLmBackoff.fn(spark, sf0001).collect()
    assert(got.length == expect.size, "doc universe drifted")
    got.foreach { r =>
      val (n, nb, bits) = expect(r.getAs[Long]("doc_id"))
      assert(r.getAs[Long]("n_scored") == n, s"doc ${r.get(0)} position count drifted")
      assert(r.getAs[Long]("n_backoff") == nb, s"doc ${r.get(0)} backoff count drifted")
      assert(r.getAs[Long]("bits_total") == bits, s"doc ${r.get(0)} surprisal drifted")
    }
    // hierarchy law: a doc whose every bigram is train-seen scores
    // strictly above (less negative per position than) the OOV floor
    val floor = -2L + 0L - flog2(nTrain + 1)
    got.filter(r => r.getAs[Long]("n_backoff") == 0 && r.getAs[Long]("n_scored") > 0)
      .foreach { r =>
        assert(r.getAs[Long]("bits_total") > floor * r.getAs[Long]("n_scored"),
          s"doc ${r.get(0)}: seen-bigram score fell to the OOV floor")
      }
  }

  test("one path per family: TextOps.scala writes each BM25 and pair-metric primitive once") {
    // the term score, the segment build, the pairing window and the clip
    // sum each live in one shared helper; a per-query copy fails here
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/ops/TextOps.scala")), "UTF-8")
    def occurrences(word: String) =
      Iterator.iterate(src.indexOf(word))(i => src.indexOf(word, i + 1)).takeWhile(_ >= 0).size
    for (word <- Seq("lit(44L) * tf", "groupBy(\"term\", \"doc_id\")",
        "lead(\"doc_id\"", "least(col(\"c\"), col(\"c_ref\"))"))
      assert(occurrences(word) == 1,
        s"`$word` is written ${occurrences(word)} times in TextOps.scala: one shared helper, not a copy")
  }
}
