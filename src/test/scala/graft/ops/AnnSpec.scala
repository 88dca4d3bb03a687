package graft.ops

import graft.SparkSpec

/** ANN variants vs the exact brute-force baseline (promised by the
  * q_ann_lsh scaladoc): approximate results must be internally
  * consistent (true cosines, correctly ordered) and recall the planted
  * near neighbors.
  */
class AnnSpec extends SparkSpec {

  private def ids(name: String): Seq[Long] =
    graft.SparkEntry.queries(name)(spark, sf0001).collect().map(_.getLong(0)).toSeq

  test("q_ann_lsh: ≤5 rows, descending cos_sim, never the query vector") {
    val rows = graft.SparkEntry.queries("q_ann_lsh")(spark, sf0001).collect()
    assert(rows.length <= 5 && rows.nonEmpty)
    assert(rows.forall(_.getLong(0) != 0L))
    val sims = rows.map(_.getDouble(1)).toSeq
    assert(sims == sims.sorted.reverse)
  }

  test("q_ann_lsh recall: ≥3 of its 5 results are in the exact top-10") {
    val exact = ids("q_knn_cosine").toSet // top-10 brute force
    val lsh = ids("q_ann_lsh")
    assert(lsh.count(exact) >= 3, s"lsh=$lsh exact=$exact")
  }

  test("q_ann_pq: ADC candidates + exact rerank agree with exact in-cluster search") {
    val rows = graft.SparkEntry.queries("q_ann_pq")(spark, sf0001).collect()
    assert(rows.length == 5)
    assert(rows.forall(_.getLong(0) != 0L))
    val sims = rows.map(_.getDouble(1)).toSeq
    assert(sims == sims.sorted.reverse, "rerank must emit true cosines, ordered")
    // recall vs the exact search over the SAME probed cluster (= the
    // nprobe=1 IVF result): quantization only affects which 20 of the
    // cluster reach the rerank, so PQ must recover most of the top-5
    val exactInCluster = ids("q_ann_ivf").take(5).toSet
    val pq = rows.map(_.getLong(0))
    assert(pq.count(exactInCluster) >= 3, s"pq=${pq.toSeq} exact=$exactInCluster")
  }

  test("q_ann_sq8: near-lossless — its top-5 equals the exact top-5") {
    val rows = graft.SparkEntry.queries("q_ann_sq8")(spark, sf0001).collect()
    assert(rows.length == 5)
    assert(rows.forall(_.getLong(0) != 0L))
    val sims = rows.map(_.getDouble(1)).toSeq
    assert(sims == sims.sorted.reverse, "rerank must emit true cosines, ordered")
    // 8-bit/dim quantization error is ~0.2% of each dim's range; with a
    // 20-candidate ADC funnel over 50 vectors the exact top-5 must all
    // survive to the rerank (PQ at 4 bits only promises 3/5 — SQ8's
    // whole point is the tighter recall at 16× the memory of PQ)
    val exactTop5 = ids("q_knn_cosine").take(5).toSet
    val sq = rows.map(_.getLong(0))
    assert(sq.count(exactTop5) == 5, s"sq8=${sq.toSeq} exact=$exactTop5")
  }

  test("ivf recall curve: nondecreasing in nprobe, exact at nprobe=K") {
    val exactTop5 = ids("q_knn_cosine").take(5).toSet
    val recalls = Seq(1, 2, 4, 8).map { p =>
      val got = Similarity.ivfSearch(spark, sf0001, p).collect().map(_.getLong(0)).toSet
      p -> got.count(exactTop5).toDouble / exactTop5.size
    }
    // widening the probe set can only add candidates → recall is monotone
    recalls.sliding(2).foreach { case Seq((pa, ra), (pb, rb)) =>
      assert(rb >= ra, s"recall dropped from nprobe=$pa ($ra) to nprobe=$pb ($rb)")
    }
    // probing all 8 clusters IS the brute-force search
    assert(recalls.last._2 == 1.0, s"recalls=$recalls")
  }

  /** Measured finding (kept as a pinned fact, not a hope): on this
    * near-uniform unit-sphere corpus, average recall@5 is CODEBOOK-
    * INSENSITIVE — the trained centroids and the old vec_id<8 stand-in
    * recall within a few points of each other at every nprobe (queries
    * disjoint from the stand-in's centroid ids; including them inflates
    * the stand-in, since a query that IS a centroid trivially captures
    * its own neighborhood). What training buys on such data is the
    * k-means objective — within-cluster variance ~halves (KMeansSpec)
    * — and a codebook that is an actual model rather than 8 arbitrary
    * corpus rows. The sweep below computes exact avg recall@5 over 200
    * queries driver-side (500×64 doubles — test-scale only).
    */
  test("trained codebook recalls at parity-or-better with the stand-in across nprobe") {
    val vecs = graft.ops.Tables.embeddings(spark, sf0001)
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS v")
      .orderBy("vec_id")
      .collect().map(_.getSeq[Double](1).toArray)
    val standIn = vecs.take(8)
    def sq(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    def cosPair(a: Array[Double], b: Array[Double]): Double = {
      var ab = 0.0; var aa = 0.0; var bb = 0.0; var i = 0
      while (i < a.length) { ab += a(i)*b(i); aa += a(i)*a(i); bb += b(i)*b(i); i += 1 }
      ab / math.sqrt(aa * bb)
    }
    val queries = 8 until 208 // disjoint from the stand-in centroid ids
    def avgRecall(cb: Array[Array[Double]], nprobe: Int): Double = {
      val assign = vecs.map(v => cb.zipWithIndex.map { case (c, i) => (sq(v, c), i) }.min._2)
      queries.map { q =>
        val sims = vecs.indices.filter(_ != q)
          .map(i => (i, cosPair(vecs(q), vecs(i)))).sortBy { case (i, c) => (-c, i) }
        val exact = sims.take(5).map(_._1).toSet
        val probes = cb.zipWithIndex.map { case (c, i) => (sq(vecs(q), c), i) }
          .sorted.take(nprobe).map(_._2).toSet
        val approx = sims.filter { case (i, _) => probes(assign(i)) }.take(5).map(_._1).toSet
        exact.count(approx).toDouble / 5
      }.sum / queries.size
    }
    for (nprobe <- Seq(1, 2, 4)) {
      val rT = avgRecall(IvfCodebook.centroids, nprobe)
      val rS = avgRecall(standIn, nprobe)
      assert(rT >= rS - 0.05, s"nprobe=$nprobe trained=$rT standIn=$rS")
    }
  }

  test("q_knn_join_ann: ≥0.6 edge recall vs the exact graph, at ≤ nprobe/K of the work") {
    // The ANN graph's promise: most exact top-3 edges survive while only
    // the probed clusters' members are ever compared. On this
    // near-isotropic corpus recall ≈ nprobe/K is the THEORETICAL shape
    // (centroids of noise carry little signal) — the floor is set from
    // the measured 0.67, not hope; a broken probe list lands ≈ 0.37.
    val exact = graft.SparkEntry.queries("q_knn_join")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = graft.SparkEntry.queries("q_knn_join_ann")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val recall = ann.count(e => exact((e._1, e._2))).toDouble / exact.size
    assert(recall >= 0.6, s"edge recall $recall < 0.6 (${ann.length} ann vs ${exact.size} exact edges)")
    // every source keeps ≤3 neighbors, ranked by true descending cosine
    graft.SparkEntry.queries("q_knn_join_ann")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(3), r.getDouble(2)))
      .groupBy(_._1).values.foreach { g =>
        assert(g.length <= 3)
        val byRank = g.sortBy(_._2).map(_._3).toSeq
        assert(byRank == byRank.sorted.reverse, "rank order must follow descending cosine")
      }
  }

  test("q_knn_join_ann: on CLUSTERED data (the deployment assumption) recall stays high at b>0") {
    // The driver corpus is near-isotropic noise — the adversarial case,
    // where recall ≈ probed-fraction is information-theoretically forced.
    // This corpus is what IVF exists for: 2048 vectors in tight clusters
    // around the trained centroids (n > 512 ⇒ b = 2 sub-bucket bits are
    // LIVE). True neighbors share the cluster and almost always the
    // sub-bucket (tiny noise barely flips a hyperplane sign; Hamming ≤ 1
    // multiprobe absorbs single flips) — so the same machinery that
    // only manages ~nprobe/K recall on noise recovers ≥ 0.8 here at the
    // identical work reduction.
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val cents = IvfCodebook.centroids
    val vecs = (0 until 2048).map { i =>
      val c = cents(i % cents.length)
      (i.toLong, c.map(x => x + rnd.nextGaussian() * 0.005).toSeq)
    }
    val dir = java.nio.file.Files.createTempDirectory("ann-clustered").toString
    vecs.toDF("vec_id", "embedding").withColumn("label",
      org.apache.spark.sql.functions.lit("c")).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    val exact = graft.SparkEntry.queries("q_knn_join")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = graft.SparkEntry.queries("q_knn_join_ann")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val recall = ann.count(e => exact((e._1, e._2))).toDouble / exact.size
    assert(recall >= 0.8, s"clustered-data recall $recall < 0.8 (${ann.length} vs ${exact.size} edges)")
  }

  test("q_maxsim_ann recall floor vs the exact top-10 (the q_maxsim scaladoc promise)") {
    // Hamming≤1 multiprobe over 4 facet signatures: on the fixture
    // corpus the routed set currently recovers ALL 10 of the exact
    // MaxSim top-10; the pinned floor is 7 — low enough to absorb a
    // reshuffled fixture, high enough that a broken probe expansion
    // (which lands ≤4/10) or a sign-test drift fails loudly.
    val exact = ids("q_maxsim").toSet
    val ann = ids("q_maxsim_ann")
    assert(ann.length == 10 && exact.size == 10)
    assert(ann.count(exact) >= 7, s"ann=$ann exact=$exact")
  }

  test("q_maxsim_postings ≡ q_maxsim_ann: the materialized probe path changes NOTHING") {
    // same facetBucketCol posts the layout and filters the in-query
    // form, so the candidate sets are equal by construction — assert
    // the full (vec_id, maxsim) rows, not just ids, so a rescoring
    // drift in the postings path (e.g. scoring a stale denormalized
    // vector) also fails
    val a = graft.SparkEntry.queries("q_maxsim_ann")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val p = graft.SparkEntry.queries("q_maxsim_postings")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(a == p, s"ann=$a postings=$p")
  }

  test("q_ann_ivf: results are a correctly-reranked subset of the corpus") {
    val rows = graft.SparkEntry.queries("q_ann_ivf")(spark, sf0001).collect()
    assert(rows.length == 5)
    val sims = rows.map(_.getDouble(1)).toSeq
    assert(sims == sims.sorted.reverse)
    // probing one cluster can only return true cosines: every value must
    // also appear in the exact all-corpus ranking at the same id
    val exact = graft.SparkEntry.queries("q_knn_cosine")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rows.foreach { r =>
      exact.get(r.getLong(0)).foreach(c => assert(c == r.getDouble(1)))
    }
  }

  test("q_ann_ivf_flat: at b=0 the pruned-layout probe IS nprobe-3 IVF, row for row") {
    // the fixture corpus is ≤ 512 vectors, so the sub-bucket level
    // vanishes and the flat probe must reproduce ivfSearch(nprobe = 3)
    // exactly — same candidates (the query's 3 nearest clusters), same
    // exact-cosine rescore, same (cos DESC, id ASC) top-5
    val flat = graft.SparkEntry.queries("q_ann_ivf_flat")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val ivf3 = Similarity.ivfSearch(spark, sf0001, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(flat.nonEmpty && flat == ivf3,
      s"flat probe drifted from nprobe-3 IVF: $flat vs $ivf3")
  }

  test("flatLayoutBits: bucket occupancy stays row-group-scale (2048-4096 vectors) at every corpus size") {
    // the r10 verdict's layout-economics law: the materialized store
    // must be ~1-2 MB files, not an O(n) tiny-file sprawl. For any
    // n > 32768, occupancy n/(8·2^b) must land in (2048, 4096]; below
    // that the whole corpus fits the b=0 nprobe-3 layout.
    for (n <- Seq(1L, 512L, 32768L, 32769L, 200000L, 1000000L, 123456789L, 1000000000L)) {
      val b = Similarity.flatLayoutBits(n)
      assert((32768L << b) >= n, s"n=$n b=$b does not cover the corpus")
      if (b > 0)
        assert((32768L << (b - 1)) < n, s"n=$n b=$b is one bit too fine — occupancy halved for nothing")
      val occ = n.toDouble / (8L << b)
      if (n > 32768)
        assert(occ > 2048 && occ <= 4096, s"n=$n b=$b occupancy $occ outside row-group scale")
    }
    // monotone in n, and the INT-overflow guard fires loudly past the cap
    assert(Similarity.flatLayoutBits(200000L) == 3) // sf10: 64 dirs, was 4096 at the old 512-rule
    intercept[IllegalArgumentException] {
      Similarity.flatLayoutBits(32768L * (1L << 28)) // ~8.8e12 vectors
    }
  }

  test("q_ann_segments / q_ann_merge ≡ q_ann_ivf_flat: the lifecycle changes NOTHING (b = 0)") {
    // sf0.001 sits at b_tot = 0: both segments bucket at width 0, the
    // merge is a pure file absorb — and all three probes must serve
    // identical (vec_id, cos_sim) rows
    val flat = graft.SparkEntry.queries("q_ann_ivf_flat")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val segd = graft.SparkEntry.queries("q_ann_segments")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val merged = graft.SparkEntry.queries("q_ann_merge")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(flat.nonEmpty && segd == flat, s"segmented=$segd flat=$flat")
    assert(merged == flat, s"merged=$merged flat=$flat")
  }

  test("segment lifecycle at MIXED bit widths: prefix-Hamming re-filter and selective re-bucket are exact") {
    // 40 001 vectors force b_tot = 1 while the fresh segment (10% ≈
    // 4 000 vectors) builds at b = 0 — the case the r11 verdict called
    // out: growth changes flatLayoutBits, so a naive absorb would
    // invalidate every bucket key. The segmented probe's full-width
    // re-filter and the merge's selective re-bucket must BOTH still
    // reproduce the single-build probe row for row.
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val cents = IvfCodebook.centroids
    val vecs = (0L until 40001L).map { i =>
      val c = cents((i % cents.length).toInt)
      (i, c.map(x => x + rnd.nextGaussian() * 0.3).toSeq)
    }
    val dir = java.nio.file.Files.createTempDirectory("ann-mixed-b").toString
    vecs.toDF("vec_id", "embedding").withColumn("label",
      org.apache.spark.sql.functions.lit("c")).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    assert(Similarity.flatLayoutBits(40001L) == 1)
    val flat = graft.SparkEntry.queries("q_ann_ivf_flat")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val segd = graft.SparkEntry.queries("q_ann_segments")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val merged = graft.SparkEntry.queries("q_ann_merge")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(flat.length == 5 && segd == flat, s"segmented=$segd flat=$flat")
    assert(merged == flat, s"merged=$merged flat=$flat")
    graft.FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("q_embedding_shift: counts re-derived from raw vectors; each term IS the textbook two-sample chi-square") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet").collect()
      .map(r => (r.getAs[Long]("vec_id"),
        r.getAs[Seq[Float]]("embedding").map(_.toDouble).toArray))
    // replicate assignment: left-to-right squared-distance fold, ties
    // to the lower cid (the array_min struct order)
    def assign(v: Array[Double]): Int =
      IvfCodebook.centroids.zipWithIndex.map { case (cv, cid) =>
        var acc = 0.0; var i = 0
        while (i < 64) { val d = v(i) - cv(i); acc += d * d; i += 1 }
        (acc, cid)
      }.minBy(identity)._2
    def bucket(id: Long): Long =
      (id % 2147483647L + 777L) % 2147483647L * 2654435761L % 4294967296L % 100L
    val rows = emb.map { case (id, v) => (assign(v), bucket(id) < 50) }
    val expect = rows.groupBy(_._1).map { case (cid, g) =>
      cid -> (g.count(_._2).toLong, g.count(!_._2).toLong)
    }
    val tr = expect.values.map(_._1).sum
    val tc = expect.values.map(_._2).sum
    val got = Similarity.qEmbeddingShift.fn(spark, sf0001).collect()
    assert(got.map(_.getAs[Long]("n_ref")).sum == tr &&
      got.map(_.getAs[Long]("n_cand")).sum == tc, "split totals drifted")
    got.foreach { r =>
      val (nr, nc) = expect(r.getAs[Int]("cid"))
      assert(r.getAs[Long]("n_ref") == nr && r.getAs[Long]("n_cand") == nc,
        s"cluster ${r.get(0)} histogram drifted")
      // identity: d^2/(Tr*Tc*(nr+nc)) == sum over both groups of (O-E)^2/E
      val n = (tr + tc).toDouble
      val eR = tr * (nr + nc) / n
      val eC = tc * (nr + nc) / n
      val textbook = math.pow(nr - eR, 2) / eR + math.pow(nc - eC, 2) / eC
      val d = (nc * tr - nr * tc).toDouble
      val reduced = d * d / (tr.toDouble * tc * (nr + nc))
      assert(math.abs(textbook - reduced) < 1e-9 * math.max(1.0, textbook),
        s"cluster ${r.get(0)}: reduced form $reduced != textbook $textbook")
      assert(math.abs(r.getAs[Double]("chi2_term") - reduced) < 1e-6,
        s"cluster ${r.get(0)} chi2_term drifted")
    }
  }

  test("one path per decision: Similarity.scala projects, assigns, pairs, writes and probes once") {
    // the corpus projection, the centroid argmin, the blocked pair
    // explode and the bucket write each live in one shared helper, and
    // every layout probe lists only its probed dirs (a whole-layout read
    // runs partition discovery over every bucket); a copy fails here
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/ops/Similarity.scala")), "UTF-8")
    def occurrences(word: String) =
      Iterator.iterate(src.indexOf(word))(i => src.indexOf(word, i + 1)).takeWhile(_ >= 0).size
    val drift = for {
      (word, want) <- Seq(
        "partitionBy(\"bucket\")" -> 1,
        "read.parquet(lay)" -> 0,
        "cast(\"array<double>\").as(\"v\")" -> 1,
        "array_min(array(" -> 1,
        "explode(sequence(col(\"bid\")" -> 1)
      if occurrences(word) != want
    } yield s"`$word` ${occurrences(word)}× (want $want)"
    assert(drift.isEmpty,
      s"Similarity.scala copies a shared helper: ${drift.mkString(", ")}")
  }
}
