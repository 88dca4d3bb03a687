package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.TextHash

/** Deduplication family (SURVEY §2.C E10 + driver-mandated dedup ops):
  * exact, key-based (CDC/upsert idiom), n-gram Jaccard, MinHash+LSH,
  * SimHash.
  *
  * Exactness discipline: Jaccard thresholds are evaluated as INTEGER
  * comparisons — `J ≥ 1/2  ⇔  3·|A∩B| ≥ |A|+|B|` — so no float ever
  * decides membership and the DuckDB oracle agrees bit-for-bit.
  *
  * Scale shapes (the point of each variant at 100 TB):
  *  - exact: hash-groupBy, one shuffle on the full text (or better, on a
  *    fingerprint — see q_fingerprint).
  *  - ngram: bounded bucket aggregation on shingle = similarity join
  *    without a cross product; shuffle volume = Σ shingles, hot
  *    shingles dropped inside the aggregation ([[BoundedBucket]], cap
  *    on by default).
  *  - minhash: constant-size signature per doc (k hashes) + LSH banding
  *    → candidate pairs ∝ true-positive density, not n²; band buckets
  *    capped the same way.
  *  - simhash: one 64-bit signature per doc + capped block-key buckets;
  *    candidates within Hamming ≤ 3 guaranteed by 4×16-bit pigeonhole
  *    blocks.
  *  - clusters: min-label-propagation connected components over the
  *    pair graph (q_dedup_cc) turn pairs into survivor groups.
  */
object Dedup {
  import Tables._

  private val SHINGLE_N = 3
  private val MINHASH_K = 16
  private val LSH_BANDS = 8 // × 2 rows per band

  /** Default hot-bucket frequency cap for the candidate joins (see
    * [[Skew.dropHotKeys]]). 1024 bounds any bucket at ~500k candidate
    * pairs — far above every key frequency in the test corpus (max
    * shingle df is 25 at sf0.1), so the oracles are byte-identical with
    * the cap ON; on a real corpus it is the safety that keeps one
    * stop-shingle from flooding a partition with O(f²) pairs.
    */
  val HOT_BUCKET_CAP = 1024

  /** Common oracle: brute-force all-pairs shingle Jaccard ≥ 1/2 (the
    * LSH/SimHash variants are candidate generators whose verified output
    * equals this set on this corpus — asserted by tests, and by the
    * driver's t2 at sf0.01).
    */
  private val allPairsOracle =
    """WITH toks AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
       sh AS (SELECT doc_id,
                     list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                    for i in range(1, len(w)-1)]) AS s
              FROM toks WHERE len(w) >= 3)
       SELECT a.doc_id AS a_id, b.doc_id AS b_id,
              CAST(len(list_intersect(a.s, b.s)) AS INTEGER) AS shared,
              CAST(len(a.s) AS INTEGER) AS na,
              CAST(len(b.s) AS INTEGER) AS nb
       FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       WHERE 3 * len(list_intersect(a.s, b.s)) >= len(a.s) + len(b.s)
       ORDER BY a_id, b_id"""

  /** Exact dedup: group on content, keep lowest id (deterministic
    * survivor rule — `dropDuplicates` keeps an arbitrary row).
    */
  val qDedupExact = Q(
    "q_dedup_exact",
    (s, d) =>
      documents(s, d)
        .groupBy("text")
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
        .select("doc_id", "n_copies")
        .orderBy("doc_id"),
    Some("""SELECT min(doc_id) AS doc_id, count(*) AS n_copies
            FROM documents GROUP BY text ORDER BY doc_id""")
  )

  /** Key dedup / CDC upsert idiom (the reference's `record_op` column
    * implies exactly this, `lib_db.py:39`): latest event per
    * (user_id, event_type) via row_number = 1.
    */
  val qDedupKey = Q(
    "q_dedup_key",
    (s, d) => {
      val w = Window
        .partitionBy("user_id", "event_type")
        .orderBy(col("ts").desc, col("event_id").desc)
      events(s, d)
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select("user_id", "event_type", "event_id", "value")
        .orderBy("user_id", "event_type")
    },
    Some("""SELECT user_id, event_type, event_id, value FROM (
              SELECT user_id, event_type, event_id, value,
                     row_number() OVER (PARTITION BY user_id, event_type
                                        ORDER BY ts DESC, event_id DESC) AS rn
              FROM events) t
            WHERE rn = 1 ORDER BY user_id, event_type""")
  )

  /** Exploded (doc_id, shingle) pairs + per-doc set size. fanOut before
    * shingling: the single-split scan would otherwise shingle+explode+
    * probe the whole corpus on one task (see Tables.fanOut).
    */
  private def exploded(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    // hashed shingles: 8-byte join/shuffle keys instead of ~25-char
    // strings (counts match the string-side oracle; collisions ~2⁻⁶¹).
    val sh = fanOut(documents(s, d))
      .select(col("doc_id"), TextHash.shingleHashes(col("text"), SHINGLE_N).as("sh"))
      .where(size(col("sh")) > 0)
    val sizes = sh.select(col("doc_id"), size(col("sh")).as("n"))
    val ex = sh.select(col("doc_id"), explode(col("sh")).as("shingle"))
    (ex, sizes)
  }

  /** Verified pair output shared by the three similarity-dedup plans. */
  private def verifyPairs(
      s: SparkSession,
      d: String,
      candidates: DataFrame // columns a_id, b_id
  ): DataFrame = {
    val sets = fanOut(documents(s, d)) // single-split scan: see Tables.fanOut
      .select(col("doc_id"), TextHash.shingleHashes(col("text"), SHINGLE_N).as("sh"))
      .where(size(col("sh")) > 0)
    // sets carries one shingle ARRAY per doc — corpus-sized, never
    // broadcastable at scale; shuffle-hash-build it on the doc-id key
    candidates
      .join(sets.select(col("doc_id").as("a_id"), col("sh").as("sa")).hint("shuffle_hash"), "a_id")
      .join(sets.select(col("doc_id").as("b_id"), col("sh").as("sb")).hint("shuffle_hash"), "b_id")
      .select(
        col("a_id"),
        col("b_id"),
        // codegen merge-count over the sorted hash arrays — the builtin
        // array_intersect allocates a hash set per pair
        TextHash.intersectCount(col("sa"), col("sb")).as("shared"),
        size(col("sa")).as("na"),
        size(col("sb")).as("nb")
      )
      .where(lit(3) * col("shared") >= col("na") + col("nb"))
      .orderBy("a_id", "b_id")
  }

  /** n-gram Jaccard similarity join, exact in the df-filtered shingle
    * space: the hot-shingle cap is applied at SHINGLING time (the
    * standard stop-shingle removal — a shingle in more than `cap` docs
    * carries no near-dup signal and would contribute O(f²) candidate
    * pairs), and sizes/counts/threshold are all computed in the SAME
    * filtered space, so the Jaccard decision is self-consistent. The
    * candidate machinery is a single memory-bounded bucket aggregation
    * ([[BoundedBucket]]) — no cross product, no separate df pass, every
    * bucket ≤ cap members. With the default cap the filter never fires
    * on the test corpus (max shingle df = 25 at sf0.1) — the all-pairs
    * oracle is byte-identical.
    */
  private[ops] def ngramPairs(s: SparkSession, d: String, cap: Int): DataFrame = {
    val (exRaw, _) = exploded(s, d)
    // ONE shuffle does cap + candidates: group the exploded pairs by
    // shingle into memory-bounded buckets (hot shingles drop inside the
    // aggregation — see BoundedBucket; no df pass, no anti-join, no
    // self-join), materialized once for the two consumers below.
    val buckets = Materialize(BoundedBucket.buckets(exRaw, Seq("shingle"), "doc_id", cap))
    // per-doc set size in the filtered space (== array size when the cap
    // never fires): count each doc's kept shingle buckets
    val sizes = buckets
      .select(explode(col("docs")).as("doc_id"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n"))
    // shared-shingle counts per candidate pair, straight from the
    // bucket pair stream (each shared shingle contributes one (a,b) row)
    val shared = BoundedBucket
      .pairs(buckets)
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("shared"))
    // sizes is one row per DOC — corpus-sized, never broadcastable at
    // scale; hint it as the shuffle-hash build side
    shared
      .join(sizes.select(col("doc_id").as("a_id"), col("n").as("na")).hint("shuffle_hash"), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("n").as("nb")).hint("shuffle_hash"), "b_id")
      .where(lit(3) * col("shared") >= col("na") + col("nb"))
      .select(
        col("a_id"),
        col("b_id"),
        col("shared").cast("int").as("shared"),
        col("na"),
        col("nb")
      )
      .orderBy("a_id", "b_id")
  }

  val qDedupNgram = Q(
    "q_dedup_ngram",
    (s, d) => ngramPairs(s, d, HOT_BUCKET_CAP),
    Some(allPairsOracle)
  )

  /** MinHash + LSH: k=16 seeded xxhash64 min-signatures, 8 bands × 2
    * rows; band-key equi-join yields candidates, exact Jaccard verifies.
    * On this corpus every true pair has J ≥ 0.97, so band collision
    * probability is ≥ 1-(1-J²)⁸ ≈ 1-10⁻¹³ — recall is total (checked
    * against the brute-force oracle by t2).
    */
  private[ops] def minhashPairs(s: SparkSession, d: String, cap: Int): DataFrame = {
      val (ex, _) = exploded(s, d)
      val sigCols = (0 until MINHASH_K).map(i => TextHash.minhashCol(col("shingle"), i).as(s"h$i"))
      // Materialize the signatures ONCE before the band self-join: both
      // sides of the join read the checkpointed rows instead of each
      // re-running the shingle→explode→minhash pipeline (round 1's plan
      // had the full signature subtree twice — 2× map-side cost at
      // 100 TB). Signatures are k longs per doc, tiny relative to the
      // corpus; in production this is a write to object storage
      // (localCheckpoint is executor-memory-resident, not
      // fault-tolerant — right for local, swap for a real checkpoint on
      // a cluster — [[Materialize]] is that switch).
      val sigs = Materialize(ex.groupBy("doc_id").agg(sigCols.head, sigCols.tail: _*))
      val bandStructs = (0 until LSH_BANDS).map { j =>
        struct(lit(j).as("band"), xxhash64(col(s"h${2 * j}"), col(s"h${2 * j + 1}")).as("key"))
      }
      // Hot-bucket cap on the BAND key (where the blowup lives): a band
      // bucket of f docs yields f²/2 candidates — f > cap happens for
      // degenerate signature collisions or a dup cluster larger than cap
      // (the latter belongs to exact dedup first; see HOT_BUCKET_CAP).
      // One bounded bucket aggregation generates the capped candidates
      // directly (see BoundedBucket — replaces the banded self-join).
      val banded = sigs
        .select(col("doc_id"), explode(array(bandStructs: _*)).as("bk"))
        .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
      val cands = BoundedBucket
        .pairs(BoundedBucket.buckets(banded, Seq("band", "key"), "doc_id", cap))
        .distinct()
      verifyPairs(s, d, cands)
  }

  val qDedupMinhash = Q(
    "q_dedup_minhash",
    (s, d) => minhashPairs(s, d, HOT_BUCKET_CAP),
    Some(allPairsOracle)
  )

  /** SimHash: 64-bit frequency-weighted signature per doc (typed
    * Aggregator — UDAF surface), 4×16-bit pigeonhole block join
    * (guarantees all pairs with Hamming ≤ 3), exact Jaccard verify.
    */
  private[ops] def simhashPairs(s: SparkSession, d: String, cap: Int): DataFrame = {
      val (ex, _) = exploded(s, d)
      val simhashUdaf = udaf(TextHash.SimHashAgg)
      // Materialized once before the block self-join — see the
      // q_dedup_minhash note (one 64-bit signature per doc).
      val sigs = Materialize(
        ex
          .select(col("doc_id"), xxhash64(col("shingle")).as("h"))
          .groupBy("doc_id")
          .agg(simhashUdaf(col("h")).as("sig"))
      )
      val blocks = sigs.select(
        col("doc_id"),
        col("sig"),
        explode(
          array((0 until 4).map { j =>
            struct(
              lit(j).as("blk"),
              shiftrightunsigned(col("sig"), 16 * j).bitwiseAND(lit(0xffffL)).as("key")
            )
          }: _*)
        ).as("bk")
      )
      // Same hot-bucket cap as the minhash band join: a 16-bit block key
      // shared by f docs yields f²/2 Hamming checks. Bounded bucket
      // aggregation generates capped candidates; the signatures join
      // back (shuffle, corpus-sized) for the Hamming ≤ 3 gate.
      val flat = blocks.select(col("doc_id"), col("bk.blk").as("blk"), col("bk.key").as("key"))
      val cands = BoundedBucket
        .pairs(BoundedBucket.buckets(flat, Seq("blk", "key"), "doc_id", cap))
        .distinct()
        .join(sigs.select(col("doc_id").as("a_id"), col("sig").as("sa")).hint("shuffle_hash"), "a_id")
        .join(sigs.select(col("doc_id").as("b_id"), col("sig").as("sb")).hint("shuffle_hash"), "b_id")
        .where(TextHash.hamming(col("sa"), col("sb")) <= 3)
        .select("a_id", "b_id")
      verifyPairs(s, d, cands)
  }

  val qDedupSimhash = Q(
    "q_dedup_simhash",
    (s, d) => simhashPairs(s, d, HOT_BUCKET_CAP),
    // Approximate by design: Hamming ≤ 3 candidates are a (verified)
    // SUBSET of the brute-force pairs — small docs can drift more bits.
    // Not oracle-comparable; DedupSpec asserts subset + recall instead.
    None
  )

  /** CDC APPLY — the full add/change/DELETE semantics the reference's
    * `record_op` column (A/C/D, `lib_db.py:39`) implies, which
    * [[qDedupKey]]'s plain upsert cannot express: events are a change
    * stream keyed by user, applied in (ts, event_id) order, and an
    * entity whose LAST operation is a delete (here: event_type 'error')
    * is ABSENT from the applied state; otherwise it carries its latest
    * value plus the applied-change count. One window pass — the same
    * shuffle as the upsert, the delete tombstone decided after ordering.
    */
  val qCdcApply = Q(
    "q_cdc_apply",
    (s, d) => {
      val byKey = Window.partitionBy("user_id")
      val w = byKey.orderBy(col("ts").desc, col("event_id").desc)
      events(s, d)
        .withColumn("rn", row_number().over(w))
        .withColumn("n_changes", count(lit(1)).over(byKey))
        .where(col("rn") === 1 && col("event_type") =!= "error")
        .select(
          col("user_id"),
          col("event_type").as("last_op"),
          col("value").as("last_value"),
          col("n_changes")
        )
        .orderBy("user_id")
    },
    Some("""SELECT user_id, event_type AS last_op, value AS last_value, n_changes FROM (
              SELECT user_id, event_type, value,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY ts DESC, event_id DESC) AS rn,
                     count(*) OVER (PARTITION BY user_id) AS n_changes
              FROM events) t
            WHERE rn = 1 AND event_type <> 'error'
            ORDER BY user_id""")
  )

  /** Distributed connected components by min-label propagation WITH
    * POINTER JUMPING: each round every node (1) takes the min of its
    * own and its neighbors' labels, then (2) replaces its label with its
    * label's label (path halving — labels always point at component
    * members, so the indirection is safe and collapses chains
    * geometrically). The combination converges in O(log diameter)
    * rounds instead of O(diameter) — a 300-link near-dup chain closes
    * in ~9 rounds, and the 64-round budget covers any graph a 64-bit id
    * space can express. Per round ([[ccStep]]): one aggregate + two joins
    * + a convergence count, with the round's result checkpointed by
    * [[Iterate]] (lineage would otherwise grow unboundedly).
    */
  private[ops] def connectedComponents(pairs: DataFrame, nodes: DataFrame): DataFrame =
    ccLoop(pairs, nodes, Materialize(_)).untilStable(64, "connectedComponents")

  /** Connected components as an [[Iterate.Loop]]: the mirrored pair set
    * and every node labelled with its own id (`stage`d: [[Materialize]]
    * in [[connectedComponents]], `identity` in the plan-ledger hook), and
    * [[ccStep]].
    */
  private[graft] def ccLoop(pairs: DataFrame, nodes: DataFrame, stage: DataFrame => DataFrame)
      : Iterate.Loop[DataFrame] = {
    // stage the DIRECTED pair set first, then mirror it: `pairs` is
    // lazy, and union(pairs.select(a,b), pairs.select(b,a)) embeds the
    // candidate-generation subtree twice — at sf1 that ran the 17 s
    // blocked cosine cartesian two times before the first CC round
    val p = stage(pairs.select(col("a_id").as("src"), col("b_id").as("dst")))
    val edges = p.union(p.select(col("dst").as("src"), col("src").as("dst")))
    Iterate.Loop(stage(nodes.select(col("node"), col("node").as("label"))), ccStep(edges))
  }

  /** ONE pointer-jumping round: the neighbor-min aggregate, the left
    * propagation join, and the jump self-join counting the labels that
    * moved.
    */
  private def ccStep(edges: DataFrame)(labels: DataFrame, r: Iterate.Round): DataFrame = {
    val neigh = edges
      .join(labels, edges("dst") === labels("node"))
      .groupBy(col("src"))
      .agg(min("label").as("nl"))
    // checkpointed: the jump below reads it twice (probe + lookup) —
    // un-materialized it would re-run the propagation join both times
    val propagated = r.keep(
      labels
        .join(neigh, labels("node") === neigh("src"), "left")
        .select(
          col("node"),
          col("label"),
          least(col("label"), coalesce(col("nl"), col("label"))).as("pl")
        )
    )
    // pointer jump: label := label(label). Every label is a node id of
    // the same component (invariant of both steps), so the lookup frame
    // is `propagated` itself. The convergence count rides the round
    // checkpoint's own action (r14: a separate count was one extra job
    // per round — a third of the loop's fixed cost).
    r.keepCounting(
      propagated
        .as("a")
        .join(
          propagated.select(col("node").as("jn"), col("pl").as("jl")).as("b"),
          col("a.pl") === col("b.jn")
        )
        .select(col("a.node").as("node"), col("a.label").as("label"),
          least(col("a.pl"), col("b.jl")).as("newl")),
      col("newl") < col("label")
    ).select(col("node"), col("newl").as("label"))
  }

  /** The near-dup graph q_dedup_cc, q_split_leakproof and
    * q_dedup_survivor cluster: hot-bucket-capped ngram pairs over every
    * document — (pairs, nodes) as [[connectedComponents]] takes them.
    */
  private[graft] def nearDupGraph(s: SparkSession, d: String): (DataFrame, DataFrame) =
    (ngramPairs(s, d, HOT_BUCKET_CAP).select("a_id", "b_id"),
      documents(s, d).select(col("doc_id").as("node")))

  /** Dedup CLUSTERS: the near-dup pair graph's connected components,
    * every doc labeled with the smallest doc_id in its component
    * (singletons label themselves) — the step that turns pairwise
    * near-dup detection into actionable survivor groups. Oracled via a
    * DuckDB RECURSIVE CTE computing the same reachability closure.
    */
  /** The near-dup reachability closure in oracle SQL — ONE text shared
    * by [[qDedupCc]] and [[qSplitLeakproof]] so the cluster definition
    * the split op protects against can never drift from the cluster
    * definition the dedup op reports. Ends with `walk(node, label)`;
    * callers fold `min(label) GROUP BY node` on top.
    */
  private val ccWalkCte: String =
    """toks AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
             sh AS (SELECT doc_id,
                           list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                          for i in range(1, len(w)-1)]) AS s
                    FROM toks WHERE len(w) >= 3),
             pairs AS (
               SELECT a.doc_id AS a_id, b.doc_id AS b_id
               FROM sh a JOIN sh b ON a.doc_id < b.doc_id
               WHERE 3 * len(list_intersect(a.s, b.s)) >= len(a.s) + len(b.s)),
             edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
                       UNION ALL SELECT b_id, a_id FROM pairs),
             walk(node, label) AS (
               SELECT doc_id, doc_id FROM documents
               UNION
               SELECT e.src, w.label FROM edges e JOIN walk w ON e.dst = w.node)"""

  val qDedupCc = Q(
    "q_dedup_cc",
    (s, d) => {
      val (pairs, nodes) = nearDupGraph(s, d)
      connectedComponents(pairs, nodes)
        .select(col("node").as("doc_id"), col("label").as("cluster_id"))
        .orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE
             $ccWalkCte
             SELECT node AS doc_id, min(label) AS cluster_id
             FROM walk GROUP BY node ORDER BY doc_id""")
  )

  /** LEAKAGE-PROOF SPLIT (r10) — the train/val/test assignment that
    * respects the near-dup graph: hashing doc_id (q_split_assign) puts
    * two near-duplicate documents in DIFFERENT splits with probability
    * ≈ 2·p(test) — exactly the eval-set contamination q_decontaminate
    * then has to detect. This op closes the loop at the SOURCE: the
    * split key is the near-dup CLUSTER label (min doc_id of the
    * component, from the same [[connectedComponents]] as q_dedup_cc),
    * so a whole duplicate cluster lands in one split by construction
    * and no near-dup pair can straddle train/test. Salt 0 and the
    * 90/5/5 thresholds match q_split_assign, so a SINGLETON doc (label
    * = own id) keeps its exact q_split_assign split — adopting the
    * leakproof split only moves documents that have near-duplicates.
    *
    * Scale shape: the audited q_dedup_cc pointer-jumping rounds (pair
    * generation capped by HOT_BUCKET_CAP, checkpointed label
    * propagation) plus ONE per-row exact-integer Knuth projection —
    * the split adds nothing corpus-scale beyond the clustering it
    * reuses. Oracle composes the SAME [[ccWalkCte]] reachability text
    * as q_dedup_cc, so cluster semantics are pinned to be identical.
    */
  val qSplitLeakproof = Q(
    "q_split_leakproof",
    (s, d) => {
      val (pairs, nodes) = nearDupGraph(s, d)
      connectedComponents(pairs, nodes)
        .select(col("node").as("doc_id"), col("label").as("cluster_id"))
        .withColumn("bucket", expr(Sampling.bucketSql("cluster_id", 0L, 100L)))
        .withColumn(
          "split",
          when(col("bucket") < 90, "train").when(col("bucket") < 95, "val").otherwise("test"))
        .orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE
             $ccWalkCte,
             cc AS (SELECT node AS doc_id, min(label) AS cluster_id
                    FROM walk GROUP BY node)
             SELECT doc_id, cluster_id,
                    ${Sampling.bucketSql("cluster_id", 0L, 100L)} AS bucket,
                    CASE WHEN ${Sampling.bucketSql("cluster_id", 0L, 100L)} < 90 THEN 'train'
                         WHEN ${Sampling.bucketSql("cluster_id", 0L, 100L)} < 95 THEN 'val'
                         ELSE 'test' END AS split
             FROM cc ORDER BY doc_id""")
  )

  /** Eval-set DECONTAMINATION — the E10 op that guards the metric, not
    * the corpus: for every test-split document, count its 3-gram
    * shingles that also occur anywhere in the train split (splits from
    * the q_split_assign hash, thresholds 90/95). A test doc sharing
    * even one shingle with training data is flagged. The shingle is 8
    * words — long-n-gram overlap (production pipelines use ~13): at
    * n=3 every test doc flags through common phrases, at n=8 only real
    * near-duplicate leakage does (the corpus's planted near-dups that
    * straddle the split boundary).
    *
    * Scale shape — and why this is CHEAPER than dedup: contamination is
    * a SEMI join of test shingles against the distinct train-shingle
    * set. No pair generation at all, so hot shingles cost one row each
    * (no O(f²) bucket problem, no cap needed): one shuffle on the
    * 8-byte shingle hash + one per-doc aggregate. The train set is
    * corpus-sized — `shuffle_hash` pinned, never a broadcast side.
    */
  private val DECON_N = 8
  /** `w[i] || ' ' || w[i+1] || … || w[i+DECON_N-1]` — generated so the
    * oracle's shingle width can never drift from the engine's. */
  private val deconShingleSql: String =
    (0 until DECON_N).map(j => if (j == 0) "w[i]" else s"w[i+$j]").mkString(" || ' ' || ")

  val qDecontaminate = Q(
    "q_decontaminate",
    (s, d) => {
      val bucket = expr(Sampling.bucketSql("doc_id", 0L, 100L)) // == split hash
      val sh = fanOut(documents(s, d))
        .select(col("doc_id"), bucket.as("bucket"),
          TextHash.shingleHashes(col("text"), DECON_N).as("sh"))
        .where(size(col("sh")) > 0)
      val train = sh.where(col("bucket") < 90)
        .select(explode(col("sh")).as("shingle")).distinct()
      val hits = sh.where(col("bucket") >= 95)
        .select(col("doc_id"), explode(col("sh")).as("shingle"))
        .join(train.hint("shuffle_hash"), Seq("shingle"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_contaminated"))
      sh.where(col("bucket") >= 95)
        .select(col("doc_id"), size(col("sh")).cast("long").as("n_shingles"))
        // hits is one row per test DOC — 5% of the corpus, which still
        // grows with the corpus: shuffle join, never a broadcast side
        .join(hits.hint("shuffle_hash"), Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_shingles"),
          coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"))
        .withColumn("contaminated", col("n_contaminated") > 0)
        .orderBy("doc_id")
    },
    Some(s"""WITH toks AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
             sh AS (SELECT doc_id,
                           list_distinct([$deconShingleSql
                                          for i in range(1, len(w) - ${DECON_N - 2})]) AS s
                    FROM toks WHERE len(w) >= $DECON_N),
             b AS (SELECT doc_id, ${Sampling.bucketSql("doc_id", 0L, 100L)} AS bucket
                   FROM documents),
             train AS (SELECT DISTINCT unnest(s) AS shingle
                       FROM sh JOIN b USING (doc_id) WHERE bucket < 90),
             test AS (SELECT sh.doc_id, unnest(s) AS shingle
                      FROM sh JOIN b USING (doc_id) WHERE bucket >= 95)
             SELECT doc_id,
                    count(*) AS n_shingles,
                    count(*) FILTER (WHERE shingle IN (SELECT shingle FROM train))
                      AS n_contaminated,
                    count(*) FILTER (WHERE shingle IN (SELECT shingle FROM train)) > 0
                      AS contaminated
             FROM test GROUP BY doc_id ORDER BY doc_id""")
  )

  /** SKETCH-based decontamination — the 100 TB front-end to
    * [[qDecontaminate]]'s exact semi join, run in the PRODUCTION
    * direction: clean the TRAINING corpus against the (small) eval
    * split, not the other way round. A Bloom filter is built over the
    * test split's 8-gram shingle hashes and shipped to the train-side
    * scan as a broadcast; a train doc whose shingles hit the filter is
    * quarantined. The error is ONE-SIDED — a Bloom miss proves
    * non-membership — so a genuinely contaminated train doc can NEVER
    * slip through (the superset law DedupSpec asserts against an
    * independent driver-side exact recompute); false positives
    * over-quarantine a bounded extra fraction. fpp is 10⁻⁴ because
    * per-doc compounding is what matters: a doc with 50 shingles flags
    * spuriously with p ≈ 1−(1−fpp)⁵⁰ ≈ 0.5% at 10⁻⁴ (vs ~39% at the
    * textbook 1%).
    *
    * Scale shape vs the exact pass: the exact semi join shuffles the
    * full train shingle stream on the shingle hash; this pass shuffles
    * NOTHING corpus-sized — the eval sketch (MBs for real eval sets:
    * n·⌈log₂(1/fpp)⌉·1.44 bits ≈ 2.8 MB per 10⁶ shingles at 10⁻⁴) is
    * broadcast once, the train side is one scan + per-row probe + one
    * per-doc aggregate. The two jobs on the EVAL side (count + sketch
    * build) scan only the small split, and the split's shingle stream is
    * persisted across them — computed once, read back for the build. The
    * probe is [[graft.functions.BloomProbe]] — Spark's native
    * `BloomFilterMightContain` codegen expression, so the train-side
    * projection stays one fused WholeStageCodegen span (a Scala UDF here
    * broke codegen in exactly the stage this operator exists to keep at
    * scan speed). Declared rows-only (∅): sketch membership is
    * engine-specific, not ANSI-SQL-expressible.
    */
  val qDecontaminateBloom = Q(
    "q_decontaminate_bloom",
    (s, d) => {
      val bucket = expr(Sampling.bucketSql("doc_id", 0L, 100L))
      val sh = fanOut(documents(s, d))
        .select(col("doc_id"), bucket.as("bucket"),
          TextHash.shingleHashes(col("text"), DECON_N).as("sh"))
        .where(size(col("sh")) > 0)
      // Persist the eval-split shingle stream across the two eager
      // actions (count → sizes the sketch; bloomFilter → builds it):
      // eval-sized, computed ONCE, read back for the build.
      val testShingles = sh.where(col("bucket") >= 95)
        .select(explode(col("sh")).as("shingle"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val bf =
        try {
          val nTest = testShingles.count() // eval-sized scan, not corpus-sized
          testShingles.stat.bloomFilter("shingle", math.max(1000L, nTest), 1e-4)
        } finally testShingles.unpersist(blocking = false)
      val train = sh.where(col("bucket") < 90)
      val flagged = train
        .select(col("doc_id"), explode(col("sh")).as("shingle"))
        .where(graft.functions.BloomProbe.mightContain(bf, col("shingle")))
        .groupBy("doc_id").agg(count(lit(1)).as("n_flagged"))
      train
        .select(col("doc_id"), size(col("sh")).cast("long").as("n_shingles"))
        // flagged rows grow with the train corpus: shuffle join
        .join(flagged.hint("shuffle_hash"), Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_shingles"),
          coalesce(col("n_flagged"), lit(0L)).as("n_flagged"))
        .withColumn("contaminated", col("n_flagged") > 0)
        .orderBy("doc_id")
    },
    None // ∅ sketch membership — superset law + fp bound in DedupSpec
  )

  /** INCREMENTAL dedup — the shape that lets a 100 TB corpus absorb a
    * daily batch: dedup the NEW documents (split-hash bucket ≥ 90, ~10%)
    * against the EXISTING corpus (bucket < 90) and against earlier rows
    * of the batch itself, without ever re-pairing corpus × corpus. A new
    * doc is `dup_corpus` if a corpus doc has shingle-Jaccard ≥ 1/2 with
    * it, else `dup_batch` if a lower-id batch doc does, else `kept` —
    * the survivor rule that keeps the established corpus stable (an
    * incoming duplicate never evicts the copy already in the corpus).
    *
    * Scale shape: the [[BoundedBucket]] discipline with an INCREMENTAL
    * pair generator — ONE shuffle groups the exploded (shingle, doc)
    * stream into capped buckets whose member ids carry a corpus/batch
    * parity flag, and [[BoundedBucket.incrementalPairs]] emits only the
    * pairs involving a batch doc (corpus member × any batch member, or
    * earlier-batch × later-batch). Corpus × corpus pairs are NEVER
    * generated, so per-bucket pair work is f·f_batch instead of f²/2 —
    * the property that makes absorbing a daily batch proportional to the
    * batch. Hot shingles drop inside the aggregation (same cap + same
    * filtered-space discipline as ngramPairs — the cap never fires on
    * this corpus, so the uncapped oracle is byte-identical). Every join
    * is `shuffle_hash`-pinned: both streams are corpus-scale, never
    * broadcast sides.
    */
  val qIncrementalDedup = Q(
    "q_incremental_dedup",
    (s, d) => {
      val bucket = expr(Sampling.bucketSql("doc_id", 0L, 100L)) // == split hash
      val sh = fanOut(documents(s, d))
        .select(col("doc_id"), bucket.as("bucket"),
          TextHash.shingleHashes(col("text"), SHINGLE_N).as("sh"))
        .where(size(col("sh")) > 0)
      // parity-encoded id: doc_id·2 + isBatch — sorted-encoded order is
      // sorted-id order, so the bucket arrays stay id-ordered
      val ex = sh.select(
        (col("doc_id") * 2 + when(col("bucket") >= 90, 1L).otherwise(0L)).as("enc"),
        explode(col("sh")).as("shingle"))
      val buckets = Materialize(
        BoundedBucket.buckets(ex, Seq("shingle"), "enc", HOT_BUCKET_CAP))
      // per-doc set sizes in the SAME capped shingle space (the
      // ngramPairs self-consistency discipline)
      val sizes = buckets
        .select(explode(col("docs")).as("enc"))
        .select(expr("enc div 2").as("doc_id"))
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("int").as("n"))
      val shared = BoundedBucket.incrementalPairs(buckets)
        .select(
          expr("a_enc div 2").as("a_id"),
          (col("a_enc") % 2).as("a_batch"),
          expr("b_enc div 2").as("b_id"))
        .groupBy("a_id", "b_id", "a_batch")
        .agg(count(lit(1)).as("shared"))
      val verified = shared
        .join(sizes.select(col("doc_id").as("a_id"), col("n").as("na")).hint("shuffle_hash"), "a_id")
        .join(sizes.select(col("doc_id").as("b_id"), col("n").as("nb")).hint("shuffle_hash"), "b_id")
        .where(lit(3) * col("shared") >= col("na") + col("nb"))
      val counts = verified.groupBy("b_id").agg(
        sum(when(col("a_batch") === 0, 1L).otherwise(0L)).as("n_dup_corpus"),
        sum(when(col("a_batch") === 1, 1L).otherwise(0L)).as("n_dup_batch"))
      documents(s, d).select(col("doc_id"), bucket.as("bucket"))
        .where(col("bucket") >= 90)
        // counts is one row per flagged BATCH doc — grows with the
        // batch: shuffle join, never a broadcast side
        .join(counts.withColumnRenamed("b_id", "doc_id").hint("shuffle_hash"),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_dup_corpus"), lit(0L)).as("n_dup_corpus"),
          coalesce(col("n_dup_batch"), lit(0L)).as("n_dup_batch"))
        .withColumn("status",
          when(col("n_dup_corpus") > 0, "dup_corpus")
            .when(col("n_dup_batch") > 0, "dup_batch")
            .otherwise("kept"))
        .orderBy("doc_id")
    },
    Some(s"""WITH toks AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
             sh AS (SELECT doc_id,
                           list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                          for i in range(1, len(w)-1)]) AS s
                    FROM toks WHERE len(w) >= 3),
             bk AS (SELECT doc_id, ${Sampling.bucketSql("doc_id", 0L, 100L)} AS bucket
                    FROM documents),
             s2 AS (SELECT sh.doc_id, bucket, s FROM sh JOIN bk USING (doc_id)),
             hits AS (
               SELECT n.doc_id AS b_id,
                      count(*) FILTER (WHERE a.bucket < 90) AS n_dup_corpus,
                      count(*) FILTER (WHERE a.bucket >= 90) AS n_dup_batch
               FROM s2 n JOIN s2 a
                 ON n.bucket >= 90
                AND (a.bucket < 90 OR a.doc_id < n.doc_id)
                AND 3 * len(list_intersect(a.s, n.s)) >= len(a.s) + len(n.s)
               GROUP BY n.doc_id)
             SELECT bk.doc_id,
                    coalesce(h.n_dup_corpus, 0) AS n_dup_corpus,
                    coalesce(h.n_dup_batch, 0) AS n_dup_batch,
                    CASE WHEN coalesce(h.n_dup_corpus, 0) > 0 THEN 'dup_corpus'
                         WHEN coalesce(h.n_dup_batch, 0) > 0 THEN 'dup_batch'
                         ELSE 'kept' END AS status
             FROM bk LEFT JOIN hits h ON h.b_id = bk.doc_id
             WHERE bk.bucket >= 90
             ORDER BY doc_id""")
  )

  /** Survivor SELECTION by quality — the policy layer on top of the
    * cluster machinery: within each near-dup cluster keep the LONGEST
    * document (ties → lowest id), not the lowest id. Production
    * pipelines keep the highest-quality member (longest, best source,
    * highest score); lowest-id is just the degenerate policy. Emits one
    * row per cluster (singletons included): the cluster label, its
    * survivor, the member count, and the survivor's length.
    *
    * Scale shape: [[connectedComponents]] (O(log d) rounds) + ONE hash
    * shuffle joining labels to per-doc quality + a per-cluster top-1
    * window (WindowGroupLimit bounds the buffer at 1 row per cluster).
    * Swapping the policy is swapping the window's ORDER BY — the
    * cluster machinery is unchanged.
    */
  val qDedupSurvivor = Q(
    "q_dedup_survivor",
    (s, d) => {
      val (pairs, nodes) = nearDupGraph(s, d)
      val labeled = connectedComponents(pairs, nodes)
        .select(col("node").as("doc_id"), col("label").as("cluster_id"))
      val quality = documents(s, d)
        .select(col("doc_id"), length(col("text")).as("n_chars_m"))
      val w = Window.partitionBy("cluster_id")
        .orderBy(col("n_chars_m").desc, col("doc_id").asc)
      labeled
        .join(quality.hint("shuffle_hash"), "doc_id") // both corpus-sized
        .withColumn("rn", row_number().over(w))
        .withColumn("n_members", count(lit(1)).over(Window.partitionBy("cluster_id")))
        .where(col("rn") === 1)
        .select(col("cluster_id"), col("doc_id").as("survivor_id"),
          col("n_members"), col("n_chars_m").as("survivor_chars"))
        .orderBy("cluster_id")
    },
    Some("""WITH RECURSIVE
            toks AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
            sh AS (SELECT doc_id,
                          list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                         for i in range(1, len(w)-1)]) AS s
                   FROM toks WHERE len(w) >= 3),
            pairs AS (
              SELECT a.doc_id AS a_id, b.doc_id AS b_id
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id
              WHERE 3 * len(list_intersect(a.s, b.s)) >= len(a.s) + len(b.s)),
            edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
                      UNION ALL SELECT b_id, a_id FROM pairs),
            walk(node, label) AS (
              SELECT doc_id, doc_id FROM documents
              UNION
              SELECT e.src, w.label FROM edges e JOIN walk w ON e.dst = w.node),
            cl AS (SELECT node AS doc_id, min(label) AS cluster_id
                   FROM walk GROUP BY node),
            j AS (SELECT cl.cluster_id, cl.doc_id,
                         CAST(length(d.text) AS INTEGER) AS n_chars_m,
                         count(*) OVER (PARTITION BY cl.cluster_id) AS n_members,
                         row_number() OVER (PARTITION BY cl.cluster_id
                                            ORDER BY length(d.text) DESC,
                                                     cl.doc_id ASC) AS rn
                  FROM cl JOIN documents d USING (doc_id))
            SELECT cluster_id, doc_id AS survivor_id, n_members,
                   n_chars_m AS survivor_chars
            FROM j WHERE rn = 1 ORDER BY cluster_id""")
  )

  /** EXACT SUBSTRING dedup — remove every token span of length ≥ K that
    * duplicates an EARLIER occurrence anywhere in the corpus (Lee et
    * al. 2022, "Deduplicating Training Data Makes Language Models
    * Better": their suffix-array ExactSubstr pass, §4.1). The earlier
    * occurrence keeps its text; later copies lose the duplicated
    * tokens. "Earlier" = smaller (doc_id, position) lexicographically —
    * the deterministic keep-first policy.
    *
    * Equivalence that makes this Spark-shaped: a repeat of length
    * ≥ K exists iff a length-K window repeats, and the union of
    * duplicated K-windows covers exactly the duplicated spans — so
    * suffix arrays are not needed; K-window hashing finds the identical
    * span set. Per window only `(hash, doc_id, pos)` — 24 bytes —
    * is shuffled; the gram text is hashed and dropped map-side
    * (collision odds ~2⁻⁶⁴ per gram pair, deterministic either way).
    * Birthday-bound caveat: over D distinct grams the collision
    * probability is ≈ D²/2⁶⁵ — negligible at 10⁹ grams (~10⁻⁸) but
    * ≈ 0.3% at the 10¹³ grams a 100 TB corpus carries, and a collision
    * silently merges two distinct grams (over-deletion of one span).
    * The production knob is widening the gram key to 128 bits (two
    * xxhash64 seeds, or one xxhash64 + the gram's first/last token
    * ids), which pushes the bound to D²/2¹²⁹ ≈ 10⁻¹³ at 10¹³ grams;
    * kept 64-bit here so the Spark side and the exact-string DuckDB
    * oracle stay comparable at test scale.
    *
    * Scale shape: ONE hash aggregate computes each gram's first
    * occurrence `min(struct(doc_id, pos))` with map-side partial
    * combine (a hot gram never builds a window partition — contrast a
    * row_number-over-gram formulation, which would put a 10⁶-occurrence
    * boilerplate gram in one task's sort), then one join-back on the
    * same 8-byte key marks non-first windows. Coverage explode is K×
    * on MARKED windows only (duplicated text, not the corpus); the
    * rebuild is one per-doc aggregate whose buffer is bounded by
    * document length. Nothing driver-side, no window over row-level
    * data, every shuffle keyed.
    */
  private val SPAN_K = 8

  val qSubstringDedup = Q(
    "q_substring_dedup",
    (s, d) => {
      val K = SPAN_K
      val toks = fanOut(documents(s, d))
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .withColumn("n", size(col("w")))
      // one row per K-window: (h, doc_id, i) — the gram string dies here
      val wins = toks
        .where(col("n") >= K)
        .select(col("doc_id"), col("w"),
          explode(sequence(lit(0), col("n") - K)).as("i"))
        .select(col("doc_id"), col("i"),
          xxhash64(array_join(slice(col("w"), col("i") + 1, lit(K)), " ")).as("h"))
      // r14 optimization: non-first occurrences via ONE h-keyed window
      // (the oracle's own shape) instead of groupBy(min struct) + a
      // self-join back — the join form computed the `wins` explode
      // TWICE (the agg branch and the probe branch differ above their
      // exchanges, so ReuseExchange cannot dedupe them) and shuffled
      // the window relation twice; rn > 1 is the identical set (min
      // struct = rn 1 under the same (doc_id, i) order)
      val marked = wins
        .withColumn("rn", row_number().over(
          Window.partitionBy("h").orderBy(col("doc_id"), col("i"))))
        .where(col("rn") > 1)
      val covered = marked
        .select(col("doc_id"), explode(sequence(col("i"), col("i") + (K - 1))).as("pos"))
        .distinct()
      val tokens = toks.select(col("doc_id"), posexplode(col("w")).as(Seq("pos", "tok")))
      val kept = tokens.join(covered.hint("shuffle_hash"), Seq("doc_id", "pos"), "left_anti")
      val cleaned = kept
        .groupBy("doc_id")
        .agg(
          count(lit(1)).cast("int").as("n_kept"),
          array_join(
            expr("transform(array_sort(collect_list(struct(pos, tok))), x -> x.tok)"),
            " ").as("cleaned"))
      toks
        .select(col("doc_id"), col("n"))
        // left join keeps fully-removed docs; cleaned is corpus-sized —
        // shuffle join, never a broadcast side
        .join(cleaned.hint("shuffle_hash"), Seq("doc_id"), "left")
        .select(
          col("doc_id"),
          col("n").as("n_toks"),
          (col("n") - coalesce(col("n_kept"), lit(0))).as("n_removed"),
          coalesce(col("cleaned"), lit("")).as("cleaned"))
        .orderBy("doc_id")
    },
    Some(s"""WITH toks AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
             wins0 AS (SELECT doc_id, unnest(range(1, len(w) - ${SPAN_K - 2})) AS i1, w
                       FROM toks),
             wins AS (SELECT doc_id, CAST(i1 - 1 AS INTEGER) AS i,
                             array_to_string(list_slice(w, i1, i1 + ${SPAN_K - 1}), ' ') AS g
                      FROM wins0),
             ranked AS (SELECT doc_id, i,
                               row_number() OVER (PARTITION BY g
                                                  ORDER BY doc_id, i) AS rn
                        FROM wins),
             marked AS (SELECT doc_id, i FROM ranked WHERE rn > 1),
             cov0 AS (SELECT doc_id, i, unnest(range(0, $SPAN_K)) AS off FROM marked),
             covered AS (SELECT DISTINCT doc_id, i + off AS pos FROM cov0),
             tok0 AS (SELECT doc_id, unnest(range(1, len(w) + 1)) AS p, w FROM toks),
             tokens AS (SELECT doc_id, CAST(p - 1 AS INTEGER) AS pos, w[p] AS tok FROM tok0),
             kept AS (SELECT t.doc_id, t.pos, t.tok
                      FROM tokens t LEFT JOIN covered c
                        ON t.doc_id = c.doc_id AND t.pos = c.pos
                      WHERE c.doc_id IS NULL),
             cleaned AS (SELECT doc_id, CAST(count(*) AS INTEGER) AS n_kept,
                                string_agg(tok, ' ' ORDER BY pos) AS cleaned
                         FROM kept GROUP BY doc_id)
             SELECT t.doc_id, CAST(len(t.w) AS INTEGER) AS n_toks,
                    CAST(len(t.w) - coalesce(c.n_kept, 0) AS INTEGER) AS n_removed,
                    coalesce(c.cleaned, '') AS cleaned
             FROM toks t LEFT JOIN cleaned c USING (doc_id)
             ORDER BY doc_id""")
  )

  /** SCD TYPE-2 HISTORY BUILD (r7) — the dimension-history companion of
    * [[qCdcApply]]: where CDC apply keeps only the LATEST value per
    * entity, SCD-2 turns the change stream into the FULL versioned
    * history — one row per (entity, version) with its validity interval
    * [valid_from, valid_to) and an is_current flag. This is how a
    * warehouse versions dimensions, and how a training-data pipeline
    * answers "what value did this feature have when the example was
    * sampled?" (point-in-time-correct feature joins — the leakage
    * guard): join examples on entity AND example_ts ∈ [valid_from,
    * valid_to).
    *
    * Entity = (user_id, event_type); version order = (ts, event_id) —
    * the same total order every CDC query here uses. valid_to is the
    * NEXT version's valid_from (half-open intervals tile the timeline
    * with no gaps/overlaps by construction — lead() cannot disagree
    * with itself). PRECONDITION for the tiling claim: ts is strictly
    * increasing per entity. Two versions with IDENTICAL ts (ordered by
    * the event_id tiebreak) yield a ZERO-WIDTH [t, t) interval for the
    * earlier one — every version is still emitted and the history is
    * still loss-free, but a point-in-time join (`ts_q ∈ [from, to)`)
    * can never land inside a zero-width interval, so only the LAST
    * same-ts version is point-in-time visible (the standard warehouse
    * last-writer-wins read at a tie). Callers needing every same-ts
    * version visible must join on (ts, version) order, not ts alone.
    * Shape: ONE entity-keyed window shuffle carries both
    * lead and row_number (same partitioning, one Exchange), then a
    * per-row projection; |history| = |change stream| rows out, no
    * second pass. At 100 TB the entity hash-partitioning is the same
    * shuffle the CDC view already pays — build both from one exchange.
    */
  val qScd2 = Q(
    "q_scd2",
    (s, d) => {
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts").asc, col("event_id").asc)
      events(s, d)
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"), col("value"))
        .withColumn("valid_to", lead(col("ts"), 1).over(w))
        .withColumn("version", row_number().over(w))
        .select(
          col("user_id"), col("event_type"), col("version"),
          col("value"),
          col("ts").as("valid_from"),
          col("valid_to"),
          col("valid_to").isNull.as("is_current"))
        .orderBy("user_id", "event_type", "version")
    },
    Some("""SELECT user_id, event_type,
                   CAST(row_number() OVER w AS INTEGER) AS version,
                   value,
                   ts AS valid_from,
                   lead(ts) OVER w AS valid_to,
                   (lead(ts) OVER w IS NULL) AS is_current
            FROM events
            WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts ASC, event_id ASC)
            ORDER BY user_id, event_type, version""")
  )

  /** POINT-IN-TIME FEATURE JOIN (r8) — the leakage guard [[qScd2]]'s
    * scaladoc promises: each training example joins the feature version
    * that was valid AT ITS SAMPLING TIME, never a later one. Examples =
    * every 7th event, probed 30 s after its own timestamp (strictly
    * inside the next version's risk window); features = the SCD-2
    * history of (user_id, event_type) → value. An example sampled
    * before the entity's first version gets NULL — the honest answer,
    * not the later value a naive latest-wins join would leak.
    *
    * Shape: the q_asof_join union-merge idiom, NOT an interval join —
    * history rows and probe rows union into ONE entity-keyed window
    * where last(value, ignoreNulls) carries the newest version at or
    * before each probe (at equal ts the history row sorts first:
    * version-visible-at-its-own-instant, and among same-ts versions the
    * HIGHEST version wins — exactly the zero-width-interval
    * last-writer-wins read the SCD-2 precondition note documents) and
    * the version number is the RUNNING COUNT of history rows in the
    * same window — no pre-numbered history pass, so the whole operator
    * is ONE entity-keyed exchange + one Window. NO join node: per-key
    * fan-out (probe × every earlier version) never exists. The ORACLE
    * is the half-open INTERVAL JOIN over the lead()-reconstructed
    * history — the hash match proves merge ≡ interval semantics,
    * including the zero-width tie rule and the pre-history NULL.
    */
  val qPitJoin = Q(
    "q_pit_join",
    (s, d) => {
      val ev = events(s, d)
      val hist = ev.select(
        col("user_id"), col("event_type"), col("ts"),
        lit(0).as("tag"), col("event_id"), col("value"))
      val probes = ev.where(col("event_id") % 7 === 0)
        .select(col("user_id"), col("event_type"),
          (col("ts") + expr("INTERVAL 30 SECONDS")).as("ts"),
          lit(1).as("tag"), col("event_id"),
          lit(null).cast("double").as("value"))
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts").asc, col("tag").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      hist.unionAll(probes)
        .withColumn("feature_value", last(col("value"), ignoreNulls = true).over(w))
        .withColumn("feature_version",
          sum(when(col("tag") === 0, 1)).over(w).cast("int"))
        .where(col("tag") === 1)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("ts").as("probe_ts"), col("feature_value"), col("feature_version"))
        .orderBy("event_id")
    },
    Some("""WITH hist AS (
              SELECT user_id, event_type, value,
                     CAST(row_number() OVER w AS INTEGER) AS version,
                     ts AS valid_from, lead(ts) OVER w AS valid_to
              FROM events
              WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts ASC, event_id ASC)),
            probes AS (
              SELECT event_id, user_id, event_type,
                     ts + INTERVAL 30 SECOND AS probe_ts
              FROM events WHERE event_id % 7 = 0)
            SELECT p.event_id, p.user_id, p.event_type, p.probe_ts,
                   h.value AS feature_value, h.version AS feature_version
            FROM probes p LEFT JOIN hist h
              ON p.user_id = h.user_id AND p.event_type = h.event_type
             AND h.valid_from <= p.probe_ts
             AND (p.probe_ts < h.valid_to OR h.valid_to IS NULL)
            ORDER BY event_id""")
  )

  /** KMV CORPUS-OVERLAP ESTIMATION (r8) — the K-minimum-values sketch
    * (Beyer et al. 2007) answering the decontamination team's sizing
    * question — "HOW overlapped are train and eval?" — at the cost of a
    * DISTINCT instead of the corpus join the exact answer
    * (q_decontaminate) costs. Each corpus keeps only its k=64 SMALLEST
    * distinct 48-bit shingle hashes; because a uniform hash makes the
    * k-th minimum a cardinality pivot, the two 64-row sketches yield
    * distinct-shingle estimates (`(k−1)·2⁴⁸ div kth_min` when the
    * sketch filled; the EXACT sketch size when it holds fewer than k
    * hashes — an under-filled sketch saw every distinct value, so the
    * pivot formula would overshoot) AND a Jaccard estimate (share of
    * the union sketch's |m| = min(k, |A∪B|) smallest hashes present in
    * both sketches — conditioned on |m|, not the fixed k, so a small
    * corpus filling fewer than k slots is not biased low) without ever
    * materializing an intersection. Both conditionings are Beyer et
    * al.'s: every estimate is a function of what the sketch actually
    * held.
    *
    * Exactness: the sketch is DETERMINISTIC — bottom-k of md5-derived
    * integers (the q_feature_hash cross-engine hash: first 12 hex
    * digits as a 48-bit BIGINT) — so every output column is exact
    * integer arithmetic except `jaccard_est`, ONE IEEE division,
    * round(,6); the oracle reproduces the sketch bit-for-bit.
    *
    * Scale shape: corpus-sized work is the shingle explode + ONE
    * map-side-combinable DISTINCT on (corpus, h); the per-corpus
    * bottom-64 is a rank-window Spark rewrites to WindowGroupLimit —
    * each map partition forwards ≤64 rows per corpus — and everything
    * downstream touches ≤128 rows. The sketch is a MERGEABLE monoid
    * (bottom-k of a union = bottom-k of the sketches' union — spec law
    * in KmvSpec), so shard sketches combine without re-scanning: the
    * property that lets a 100 TB train corpus be compared against
    * every eval suite from one pass.
    */
  /** KMV k (slots per corpus sketch) and the exact-integer estimator
    * numerator (k−1)·2⁴⁸ — shared by every KMV query and spec.
    */
  private[ops] val KMV_K = 64
  private[ops] val KMV_EST_NUM = 63L * (1L << 48)

  /** The corpus-sized stage of every KMV query: 3-shingle explode →
    * 48-bit md5 hash (first 12 hex digits — the q_feature_hash
    * cross-engine hash) → DISTINCT (corpus, h). `corpus` is any
    * doc_id-derived labeling expression.
    */
  private def kmvHashed(s: SparkSession, d: String, corpus: org.apache.spark.sql.Column): DataFrame =
    fanOut(documents(s, d))
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .where(size(col("w")) >= 3)
      .select(
        corpus.as("corpus"),
        explode(array_distinct(expr(
          """transform(sequence(1, size(w) - 2),
               i -> concat_ws(' ', element_at(w, i), element_at(w, i + 1),
                              element_at(w, i + 2)))"""))).as("sh"))
      .select(col("corpus"),
        conv(substring(md5(col("sh")), 1, 12), 16, 10).cast("long").as("h"))
      .distinct()

  /** Bottom-k smallest h per group — the rank-window spelling Spark
    * rewrites to WindowGroupLimit, so each map task forwards ≤k rows
    * per group (QueriesPlanSpec pins the node; without the rewrite
    * this is a full sort of the distinct-shingle set on |groups|
    * tasks).
    */
  private def kmvBottomK(hashed: DataFrame, k: Int, groups: String*): DataFrame =
    hashed
      .withColumn("rn", row_number().over(
        Window.partitionBy(groups.map(col): _*).orderBy("h")))
      .where(col("rn") <= k)
      // project the caller's group columns, not a hardcoded list — a
      // future caller partitioning by other keys gets its own keys back
      .select(groups.map(col) :+ col("h"): _*)

  /** Two-corpus (train/eval) per-corpus sketch, un-materialized — the
    * [[qKmvOverlap]] input and the QueriesPlanSpec pin surface.
    */
  private[graft] def kmvSketch(s: SparkSession, d: String): DataFrame =
    kmvBottomK(
      kmvHashed(s, d, when(col("doc_id") % 10 < 8, "train").otherwise("eval")),
      KMV_K, "corpus")

  /** Three-corpus sketch built the way a 100 TB pass actually builds
    * it: per-(corpus, SHARD) bottom-k sketches computed INDEPENDENTLY
    * (shard = h mod 4 — any disjoint split works), then merged by
    * re-ranking the union — the KMV monoid in the plan. [[qKmvMerge]]'s
    * oracle computes the single-level sketch directly, so its hash
    * match IS the merge law verified end-to-end (KmvSpec proves the
    * same law driver-side on arbitrary splits).
    */
  private[graft] def kmvSketchSharded(s: SparkSession, d: String): DataFrame = {
    val hashed = kmvHashed(s, d,
      when(col("doc_id") % 10 < 8, "train")
        .when(col("doc_id") % 10 === 8, "val").otherwise("eval"))
      .withColumn("shard", pmod(col("h"), lit(4L)))
    val shardSketches = hashed
      .withColumn("rn", row_number().over(
        Window.partitionBy("corpus", "shard").orderBy("h")))
      .where(col("rn") <= KMV_K)
      .select("corpus", "h")
    kmvBottomK(shardSketches, KMV_K, "corpus")
  }

  val qKmvOverlap = Q(
    "q_kmv_overlap",
    (s, d) => {
      val k = KMV_K
      val estNum = KMV_EST_NUM // (k-1)·2^48, exact in a BIGINT
      // the corpus-sized work runs ONCE: the ≤2k-row sketch is
      // materialized and its three consumers (union-merge, kth-mins)
      // read the checkpoint instead of re-deriving the corpus scan
      val sketch = Materialize(kmvSketch(s, d))
      val m = sketch
        .groupBy("h")
        .agg(
          max(when(col("corpus") === "train", 1L).otherwise(0L)).as("in_a"),
          max(when(col("corpus") === "eval", 1L).otherwise(0L)).as("in_b"))
        .orderBy("h")
        .limit(k)
      // divisor = |m| = min(k, |sketch union|): dividing by the fixed k
      // would bias jaccard_est low whenever a small corpus fills fewer
      // than k slots (standard KMV conditions the estimate on the
      // union sketch actually held — Beyer et al. §5.2)
      val shared = m.agg(
        sum(col("in_a") * col("in_b")).as("n_shared"),
        count(lit(1)).as("m_size"))
      val aKth = sketch.where(col("corpus") === "train")
        .agg(max("h").as("a_kth"), count(lit(1)).as("a_size"))
      val bKth = sketch.where(col("corpus") === "eval")
        .agg(max("h").as("b_kth"), count(lit(1)).as("b_size"))
      shared
        .crossJoin(broadcast(aKth))
        .crossJoin(broadcast(bKth))
        .select(
          lit(k.toLong).as("k"),
          col("a_kth"), col("b_kth"),
          // Beyer et al. conditioning, applied to the CARDINALITIES the
          // way it already is to jaccard_est: a sketch that never
          // filled (|sketch| < k) saw EVERY distinct hash, so its exact
          // size IS the cardinality — estNum DIV kth assumes a full
          // sketch and overshoots small corpora
          expr(s"CAST(CASE WHEN a_size < $k THEN a_size ELSE $estNum DIV a_kth END AS BIGINT)")
            .as("a_card_est"),
          expr(s"CAST(CASE WHEN b_size < $k THEN b_size ELSE $estNum DIV b_kth END AS BIGINT)")
            .as("b_card_est"),
          col("n_shared"),
          round(col("n_shared").cast("double") / col("m_size").cast("double"), 6)
            .as("jaccard_est"))
        .orderBy("k")
    },
    Some {
      val estNum = 63L * (1L << 48)
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w
                        FROM documents WHERE len(string_split(text, ' ')) >= 3),
          sh AS (SELECT CASE WHEN doc_id % 10 < 8 THEN 'train' ELSE 'eval' END AS corpus,
                        unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                              for i in range(1, len(w) - 1)])) AS s
                 FROM toks),
          hashed AS (SELECT DISTINCT corpus,
                            ('0x' || substr(md5(s), 1, 12))::BIGINT AS h FROM sh),
          ranked AS (SELECT corpus, h,
                            row_number() OVER (PARTITION BY corpus ORDER BY h) AS rn
                     FROM hashed),
          sk AS (SELECT corpus, h FROM ranked WHERE rn <= 64),
          m AS (SELECT h,
                       max(CASE WHEN corpus = 'train' THEN 1 ELSE 0 END) AS in_a,
                       max(CASE WHEN corpus = 'eval' THEN 1 ELSE 0 END) AS in_b
                FROM sk GROUP BY h ORDER BY h LIMIT 64),
          stats AS (SELECT CAST(sum(in_a * in_b) AS BIGINT) AS n_shared,
                           CAST(count(*) AS BIGINT) AS m_size FROM m),
          a AS (SELECT max(h) AS a_kth, CAST(count(*) AS BIGINT) AS a_size
                FROM sk WHERE corpus = 'train'),
          b AS (SELECT max(h) AS b_kth, CAST(count(*) AS BIGINT) AS b_size
                FROM sk WHERE corpus = 'eval')
          SELECT CAST(64 AS BIGINT) AS k, a_kth, b_kth,
                 CASE WHEN a_size < 64 THEN a_size ELSE $estNum // a_kth END AS a_card_est,
                 CASE WHEN b_size < 64 THEN b_size ELSE $estNum // b_kth END AS b_card_est,
                 n_shared,
                 round(CAST(n_shared AS DOUBLE) / CAST(m_size AS DOUBLE), 6) AS jaccard_est
          FROM stats, a, b ORDER BY k"""
    }
  )

  /** The (a, b, label) corpus pairs of [[qKmvMerge]], lexicographic so
    * the output order is total; drives BOTH dialects (one-code-path).
    */
  private val kmvPairs = Seq(("eval", "train"), ("eval", "val"), ("train", "val"))

  /** KMV SKETCH MERGE (r9) — the property that makes the KMV sketch
    * worth shipping at 100 TB, exercised as a DECLARED QUERY instead of
    * only a spec law: compare THREE corpora pairwise from per-shard
    * sketches built independently and merged ([[kmvSketchSharded]] —
    * bottom-k is a mergeable monoid: bottom-k(A∪B) =
    * bottom-k(bottom-k(A) ∪ bottom-k(B))), the one-pass shape where a
    * train corpus is sketched once per shard and then compared against
    * every eval suite without re-scanning. The ORACLE builds each
    * corpus sketch directly with no sharding, so the hash match proves
    * the merge path ≡ the direct sketch end-to-end (the
    * q_bm25_postings probe≡scan trick applied to sketch algebra).
    *
    * Exactness: identical discipline to [[qKmvOverlap]] — deterministic
    * md5-derived 48-bit hashes, exact BIGINT estimator arithmetic, ONE
    * IEEE division per pair rounded once.
    *
    * Scale shape: corpus-sized work is the shared shingle explode +
    * one DISTINCT; both bottom-k levels are rank windows rewritten to
    * WindowGroupLimit (pinned), so map tasks forward ≤k rows per
    * (corpus, shard) and the merge re-rank touches ≤ shards·k rows per
    * corpus. The ≤3k-row merged sketch is materialized once; the three
    * pairwise comparisons read the checkpoint.
    */
  val qKmvMerge = Q(
    "q_kmv_merge",
    (s, d) => {
      val estNum = KMV_EST_NUM
      val sk = Materialize(kmvSketchSharded(s, d))
      kmvPairs.map { case (a, b) =>
        val m = sk.where(col("corpus").isin(a, b))
          .groupBy("h")
          .agg(
            max(when(col("corpus") === a, 1L).otherwise(0L)).as("in_a"),
            max(when(col("corpus") === b, 1L).otherwise(0L)).as("in_b"))
          .orderBy("h")
          .limit(KMV_K)
        val stats = m.agg(
          sum(col("in_a") * col("in_b")).as("n_shared"),
          count(lit(1)).as("m_size"))
        val aK = sk.where(col("corpus") === a)
          .agg(max("h").as("a_kth"), count(lit(1)).as("a_size"))
        val bK = sk.where(col("corpus") === b)
          .agg(max("h").as("b_kth"), count(lit(1)).as("b_size"))
        stats.crossJoin(broadcast(aK)).crossJoin(broadcast(bK))
          .select(
            lit(s"$a|$b").as("pair"),
            // fill-conditioned, as q_kmv_overlap: an under-filled
            // sketch reports its exact size, never estNum DIV kth
            expr(s"CAST(CASE WHEN a_size < $KMV_K THEN a_size ELSE $estNum DIV a_kth END AS BIGINT)")
              .as("a_card_est"),
            expr(s"CAST(CASE WHEN b_size < $KMV_K THEN b_size ELSE $estNum DIV b_kth END AS BIGINT)")
              .as("b_card_est"),
            col("n_shared"), col("m_size"),
            round(col("n_shared").cast("double") / col("m_size").cast("double"), 6)
              .as("jaccard_est"))
      }.reduce(_ unionAll _).orderBy("pair")
    },
    Some {
      val estNum = KMV_EST_NUM
      val perPair = kmvPairs.zipWithIndex.map { case ((a, b), i) =>
        s"""m_$i AS (SELECT h,
                       max(CASE WHEN corpus = '$a' THEN 1 ELSE 0 END) AS in_a,
                       max(CASE WHEN corpus = '$b' THEN 1 ELSE 0 END) AS in_b
                FROM sk WHERE corpus IN ('$a', '$b')
                GROUP BY h ORDER BY h LIMIT $KMV_K),
          s_$i AS (SELECT CAST(sum(in_a * in_b) AS BIGINT) AS n_shared,
                          CAST(count(*) AS BIGINT) AS m_size FROM m_$i),
          a_$i AS (SELECT max(h) AS a_kth, CAST(count(*) AS BIGINT) AS a_size
                   FROM sk WHERE corpus = '$a'),
          b_$i AS (SELECT max(h) AS b_kth, CAST(count(*) AS BIGINT) AS b_size
                   FROM sk WHERE corpus = '$b')"""
      }.mkString(",\n          ")
      val branches = kmvPairs.zipWithIndex.map { case ((a, b), i) =>
        s"""SELECT '$a|$b' AS pair,
                   CASE WHEN a_size < $KMV_K THEN a_size ELSE $estNum // a_kth END AS a_card_est,
                   CASE WHEN b_size < $KMV_K THEN b_size ELSE $estNum // b_kth END AS b_card_est,
                   n_shared, m_size,
                   round(CAST(n_shared AS DOUBLE) / CAST(m_size AS DOUBLE), 6) AS jaccard_est
            FROM s_$i, a_$i, b_$i"""
      }.mkString("\n          UNION ALL\n          ")
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w
                        FROM documents WHERE len(string_split(text, ' ')) >= 3),
          sh AS (SELECT CASE WHEN doc_id % 10 < 8 THEN 'train'
                             WHEN doc_id % 10 = 8 THEN 'val'
                             ELSE 'eval' END AS corpus,
                        unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                              for i in range(1, len(w) - 1)])) AS s
                 FROM toks),
          hashed AS (SELECT DISTINCT corpus,
                            ('0x' || substr(md5(s), 1, 12))::BIGINT AS h FROM sh),
          ranked AS (SELECT corpus, h,
                            row_number() OVER (PARTITION BY corpus ORDER BY h) AS rn
                     FROM hashed),
          sk AS (SELECT corpus, h FROM ranked WHERE rn <= $KMV_K),
          $perPair
          $branches
          ORDER BY pair"""
    }
  )

  val all: Seq[Q] =
    Seq(qDedupExact, qDedupKey, qCdcApply, qScd2, qPitJoin, qDedupNgram, qDedupMinhash,
      qDedupSimhash,
      qDedupCc, qSplitLeakproof, qDecontaminate, qDecontaminateBloom, qIncrementalDedup,
      qDedupSurvivor, qSubstringDedup, qKmvOverlap, qKmvMerge)
}
