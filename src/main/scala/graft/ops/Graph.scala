package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** E18 — graph analytics over relationally-derived graphs: the three
  * graph shapes a corpus-curation pipeline actually runs beyond
  * connected components (q_dedup_cc):
  *
  *  - co-occurrence mining ([[qCooccur]]) — the PMI/association
  *    numerator: which items appear together in the same basket/
  *    document/session. The same shape builds term co-occurrence for
  *    tokenizer and embedding pipelines.
  *  - triangle participation ([[qTriangles]]) — local clustering
  *    structure; on a near-dup pair graph, triangle density separates
  *    genuine duplicate CLUSTERS from chains of borderline pairs.
  *  - authority ranking ([[qPagerank]]) — PageRank in exact fixed-point
  *    integer arithmetic; the domain/source-authority weight web-corpus
  *    pipelines (Common Crawl rank files) feed into quality scoring.
  *
  * All three derive their graph from the driver tables (the co-purchase
  * graph: parts bought in the same order; the trade graph: customer ⇄
  * supplier edges through orders⋈lineitem), so every query is
  * hash-oracled — no synthetic inputs.
  *
  * Scale discipline shared by the family: edges are built by ONE
  * within-key equi self-join (never a cross join), each graph input in
  * one function ([[tradeEdges]], [[copurchaseEdges]], [[undirected]]);
  * every loop runs through [[Iterate]] like connectedComponents — one
  * step function per loop, its state checkpointed on the loop's cadence
  * (every round, every second round for PageRank), so lineage stays
  * O(1) in the round count; and ALL ranking arithmetic is integer
  * (`div` floor division) — no float accumulates across
  * engine-dependent orders.
  */
object Graph {
  import Tables._

  /** Fixed-point PageRank scale: ranks are fractions of SCALE, so a
    * rank of 1e9 ≡ probability 1e-3. 1e12 keeps 85·rank ≪ 2^63 while
    * leaving 6+ digits of precision below the uniform 1/n mass at
    * n = 10^6 nodes (and the floor-division loss per iteration is
    * bounded by outdeg per node — negligible against SCALE).
    */
  private val SCALE = 1000000000000L
  private val ITERS = 5

  /** Distinct (order, part) rows — the basket-membership relation both
    * graph builders start from. The distinct is one shuffle on the
    * composite key, map-side combined.
    */
  private def orderItems(s: SparkSession, d: String): DataFrame =
    lineitem(s, d).select("l_orderkey", "l_partkey").distinct()

  /** Per-basket item pairs with their support (how many baskets contain
    * both). The join is WITHIN-basket (equi on l_orderkey, `a < b`
    * orientation so each unordered pair is generated once) — per-basket
    * fan-out is |basket|²/2, bounded by the domain's basket size (TPC-H
    * orders hold ≤ 7 lines; a corpus with unbounded baskets caps items
    * per basket first — the Skew.dropHotKeys idiom). shuffle_hash pin:
    * a fact-fact self-join must never become a broadcast build side.
    *
    * The basket relation is caller-supplied — the r14 optimization
    * seam: Catalyst does not dedupe common subtrees, so a self-join over
    * the LAZY `orderItems` scans and distincts lineitem once PER SIDE.
    * Declared queries (all but q_triangles, see there) pass a
    * [[Materialize]]d items frame so the basket relation is computed
    * exactly once; the lazy plan-audit hooks keep the inline form.
    */
  private def cooccurPairsOf(items: DataFrame): DataFrame = {
    val a = items.select(col("l_orderkey").as("k"), col("l_partkey").as("pa"))
    val b = items.select(col("l_orderkey").as("k2"), col("l_partkey").as("pb"))
    a.join(b.hint("shuffle_hash"), col("k") === col("k2") && col("pa") < col("pb"))
      .groupBy("pa", "pb")
      .agg(count(lit(1)).as("support"))
  }

  /** The co-purchase graph: support-≥2 part pairs (pa < pb) over a basket
    * relation — the edge set q_triangles, q_label_prop and q_jaccard
    * share.
    */
  private def copurchaseEdges(items: DataFrame): DataFrame =
    cooccurPairsOf(items).where(col("support") >= 2).select("pa", "pb")

  /** Both directions of an edge list: (a, b) and (b, a) as (src, dst). */
  private def undirected(e: DataFrame, a: String, b: String): DataFrame =
    e.select(col(a).as("src"), col(b).as("dst"))
      .union(e.select(col(b).as("src"), col(a).as("dst")))

  /** The trade graph: customer ⇄ supplier through orders⋈lineitem, both
    * directions of each distinct edge, node ids namespace-encoded
    * 2·custkey / 2·suppkey+1. orders⋈lineitem is corpus×corpus —
    * SORT-MERGE (the r12 full-sf10 ledger OOM'd the earlier shuffle_hash
    * pin building 60M lineitem rows into per-task hash maps; per-round
    * STATE joins keep shuffle_hash — their build sides are node-scale).
    * `stage` takes the distinct one-direction base: declared queries
    * pass [[Materialize]] (r14: the two-direction union otherwise ran
    * the join + distinct once PER DIRECTION), plan hooks `identity`.
    */
  private def tradeEdges(s: SparkSession, d: String, stage: DataFrame => DataFrame)
      : DataFrame =
    undirected(
      stage(orders(s, d)
        .join(lineitem(s, d).hint("merge"), col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("sp"))
        .distinct()),
      "c", "sp")

  /** Top-25 co-occurring part pairs by support — association mining
    * (the exact-count front half of PMI: support(a,b) over a basket
    * relation; the marginals are one groupBy away). Count ties broken
    * by the (pa, pb) total order; top-k plans TakeOrderedAndProject,
    * never a global sort.
    */
  val qCooccur = Q(
    "q_cooccur",
    (s, d) =>
      // items staged once (r14): the self-join otherwise scans+distincts
      // lineitem once per side — Catalyst does not dedupe common subtrees
      cooccurPairsOf(Materialize(orderItems(s, d)))
        .orderBy(col("support").desc, col("pa").asc, col("pb").asc)
        .limit(25),
    Some("""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
            pairs AS (
              SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS support
              FROM items a JOIN items b
                ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
              GROUP BY 1, 2)
            SELECT pa, pb, support FROM pairs
            ORDER BY support DESC, pa ASC, pb ASC LIMIT 25""")
  )

  /** Top-25 item pairs by LIFT (support ≥ 3) — the association-rule
    * score: lift(a,b) = P(a,b)/(P(a)·P(b)) = support·N/(cnt_a·cnt_b).
    * PMI is log(lift); log is monotone, so ranking by lift IS ranking
    * by PMI with no transcendental in a hash-compared column (the
    * engine discipline). The emitted score is exact BIGINT numerator /
    * exact BIGINT denominator — one IEEE division, bit-identical on
    * both engines; ties broken by the (pa, pb) total order.
    *
    * Scale: marginals are a corpus-scaled dimension, so BOTH joins onto
    * the pair relation are keyed shuffles (shuffle_hash pinned — never
    * broadcast); the basket count N is the only broadcast, a 1-row
    * side. Min-support pruning runs BEFORE the marginal joins, so the
    * joined relation is the interesting-pair set, not all pairs.
    */
  val qPmi = Q(
    "q_pmi",
    (s, d) => {
      // staged once (r14): the inline form computed the basket relation
      // FOUR times (pair join a-side, b-side, marginals, basket count)
      val items = Materialize(orderItems(s, d))
      val pairs = cooccurPairsOf(items).where(col("support") >= 3)
      val marg = items.groupBy(col("l_partkey").as("p")).agg(count(lit(1)).as("cnt"))
      val nb = items.agg(countDistinct(col("l_orderkey")).as("nb"))
      pairs
        .join(marg.select(col("p").as("pa2"), col("cnt").as("ca")).hint("shuffle_hash"),
          col("pa") === col("pa2"))
        .join(marg.select(col("p").as("pb2"), col("cnt").as("cb")).hint("shuffle_hash"),
          col("pb") === col("pb2"))
        .crossJoin(broadcast(nb))
        .select(col("pa"), col("pb"), col("support"),
          ((col("support") * col("nb")).cast("double") / (col("ca") * col("cb"))).as("lift"))
        .orderBy(col("lift").desc, col("pa").asc, col("pb").asc)
        .limit(25)
    },
    Some("""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
            pairs AS (
              SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS support
              FROM items a JOIN items b
                ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
              GROUP BY 1, 2
              HAVING count(*) >= 3),
            marg AS (SELECT l_partkey AS p, count(*) AS cnt FROM items GROUP BY 1),
            nb AS (SELECT count(DISTINCT l_orderkey) AS nb FROM items)
            SELECT pa, pb, support,
                   CAST(support * nb AS DOUBLE) / (ca * cb) AS lift
            FROM pairs
            JOIN (SELECT p AS pa2, cnt AS ca FROM marg) ma ON pa = pa2
            JOIN (SELECT p AS pb2, cnt AS cb FROM marg) mb ON pb = pb2
            CROSS JOIN nb
            ORDER BY lift DESC, pa ASC, pb ASC LIMIT 25""")
  )

  /** Per-node triangle participation over the support-≥2 co-purchase
    * graph: for every part in at least one triangle, how many triangles
    * contain it — the local-clustering audit (on a near-dup pair graph
    * this separates true duplicate clusters from accidental chains).
    *
    * Edges are oriented `a < b`, so each triangle a<b<c is enumerated
    * exactly once by the classic two-join node-iterator:
    * e1(a,b) ⋈ e2(b,c) extends each wedge, e3(a,c) closes it. Both
    * joins are keyed equi-joins (shuffle_hash pinned) — never a
    * cartesian; the id orientation is the degenerate form of the
    * degree-based orientation that bounds wedge fan-out under skew (the
    * production choice when degree distribution is Zipf; id-orientation
    * keeps the oracle expressible while the join SHAPE stays identical).
    */
  val qTriangles = Q(
    "q_triangles",
    (s, d) => {
      // e staged once (r14): three join consumers. The basket relation
      // is NOT staged here (r15 A/B, VERDICT r14 #5): for THIS query the
      // inner Materialize(orderItems) bought no plan improvement (12
      // Exchanges either way, plans/r14) and its extra eager checkpoint
      // job measured slower than the one duplicate scan+distinct it
      // saves inside e's single materialization.
      val e = Materialize(copurchaseEdges(orderItems(s, d)))
      val wedges = e.select(col("pa").as("a"), col("pb").as("b"))
        .join(
          e.select(col("pa").as("b2"), col("pb").as("c")).hint("shuffle_hash"),
          col("b") === col("b2"))
        .select("a", "b", "c")
      val tri = wedges.join(
        e.select(col("pa").as("a3"), col("pb").as("c3")).hint("shuffle_hash"),
        col("a") === col("a3") && col("c") === col("c3"))
        .select("a", "b", "c")
      tri.select(explode(array(col("a"), col("b"), col("c"))).as("part"))
        .groupBy("part")
        .agg(count(lit(1)).as("n_triangles"))
        .orderBy("part")
    },
    Some("""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
            pairs AS (
              SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS support
              FROM items a JOIN items b
                ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
              GROUP BY 1, 2),
            e AS (SELECT pa, pb FROM pairs WHERE support >= 2),
            tri AS (
              SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
              FROM e e1
              JOIN e e2 ON e1.pb = e2.pa
              JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb),
            roles AS (
              SELECT a AS part FROM tri
              UNION ALL SELECT b FROM tri
              UNION ALL SELECT c FROM tri)
            SELECT part, count(*) AS n_triangles
            FROM roles GROUP BY part ORDER BY part""")
  )

  /** PageRank over the trade graph (customer ⇄ supplier through
    * orders⋈lineitem, both directions, distinct edges; node ids are
    * namespace-encoded 2·custkey / 2·suppkey+1) — the authority score
    * in EXACT fixed-point arithmetic: every quantity is a BIGINT
    * fraction of [[SCALE]], every division is floor division (`div` /
    * DuckDB `//`), so five iterations produce bit-identical ranks on
    * any engine, any partitioning, any summation order. Standard
    * damping 0.85: rank' = (15·(SCALE div n)) div 100 +
    * (85·Σ_in (rank div outdeg)) div 100. Every node in this graph has
    * out-edges (both directions exist by construction), so no dangling
    * mass term is needed; the floor losses just shrink total mass
    * monotonically (GraphSpec pins conservation bounds).
    *
    * Scale shape: the edge list (with out-degrees attached) is built
    * ONCE and checkpointed; each iteration is one keyed join
    * (edges⋈ranks on src, shuffle_hash — rank state must never
    * broadcast) + one map-side-combined sum by dst + a left join back
    * onto the node set — the Pregel pattern on DataFrames, identical in
    * shape to connectedComponents. Rank state is checkpointed every
    * SECOND round (lineage depth ≤ 2 rounds, still O(1) in ITERS): the
    * state appears once per round plan so un-checkpointed lineage grows
    * linearly, and at web scale each skipped checkpoint is one fewer
    * materialization of a node-cardinality table — the same interval
    * trade GraphX ships (Pregel checkpointInterval default 10).
    */
  val qPagerank = Q(
    "q_pagerank",
    // cadence 2: every SECOND round checkpoints (see above)
    (s, d) =>
      pagerankLoop(s, d, Materialize(_)).run(ITERS, 2)
        .select(
          when(col("node") % 2 === 0, lit("customer")).otherwise(lit("supplier")).as("kind"),
          expr("node div 2").as("key"),
          col("rank"))
        .orderBy("kind", "key"),
    Some(pagerankOracle)
  )

  /** PageRank as an [[Iterate.Loop]]: the trade edges with out-degrees
    * attached and the node set (`stage`d: [[Materialize]] in
    * [[qPagerank]], `identity` in the plan-ledger hook), uniform round-0
    * ranks SCALE div n, and [[pagerankStep]].
    */
  private[graft] def pagerankLoop(s: SparkSession, d: String, stage: DataFrame => DataFrame)
      : Iterate.Loop[DataFrame] = {
    val edges = tradeEdges(s, d, stage)
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val edgesD = stage(edges.join(deg, "src"))
    val nodes = stage(edgesD.select(col("src").as("node")).distinct())
    val init = SCALE / nodes.count() // floor: n is a positive Long
    Iterate.Loop(stage(nodes.select(col("node"), lit(init).as("rank"))),
      pagerankStep(edgesD, nodes, (15L * init) / 100L))
  }

  /** ONE PageRank round: the edges⋈ranks shuffle_hash join (rank state
    * never broadcasts), the map-side-combined contribution sum by dst,
    * and the left join back onto the node set.
    */
  private def pagerankStep(edgesD: DataFrame, nodes: DataFrame, baseMass: Long)(
      ranks: DataFrame, r: Iterate.Round): DataFrame = {
    val sums = edgesD
      .join(ranks.hint("shuffle_hash"), col("src") === col("node"))
      .select(col("dst"), expr("rank div deg").as("contrib"))
      .groupBy("dst")
      .agg(sum("contrib").as("m"))
    r.keep(
      nodes.join(sums.hint("shuffle_hash"), col("node") === col("dst"), "left")
        .select(col("node"),
          (lit(baseMass) + expr("85 * coalesce(m, 0L) div 100")).as("rank")))
  }

  /** One code path emits the iteration CTEs so the Spark loop above and
    * the DuckDB chain cannot diverge in round count or arithmetic —
    * the q_zorder_key discipline applied to iteration.
    */
  private def pagerankOracle: String = {
    val its = (1 to ITERS).map { k =>
      s"""it$k AS (
         |  SELECT n.node,
         |         CAST((15 * ($SCALE // p.n)) // 100
         |              + (85 * COALESCE(s.m, 0)) // 100 AS BIGINT) AS rank
         |  FROM nodes n
         |  LEFT JOIN (
         |    SELECT e.dst AS node, sum(r.rank // e.deg) AS m
         |    FROM edgesd e JOIN it${k - 1} r ON e.src = r.node
         |    GROUP BY e.dst) s ON n.node = s.node
         |  CROSS JOIN params p)""".stripMargin
    }.mkString(",\n")
    s"""WITH base AS (
       |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS sp
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |edges AS (SELECT c AS src, sp AS dst FROM base
       |          UNION ALL SELECT sp, c FROM base),
       |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
       |edgesd AS (SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d ON e.src = d.src),
       |nodes AS (SELECT DISTINCT src AS node FROM edges),
       |params AS (SELECT count(*) AS n FROM nodes),
       |it0 AS (SELECT node, $SCALE // p.n AS rank FROM nodes, params p),
       |$its
       |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
       |       node // 2 AS key, rank
       |FROM it$ITERS
       |ORDER BY kind, key""".stripMargin
  }

  private val LP_ITERS = 4

  /** SYNCHRONOUS LABEL PROPAGATION (Raghavan et al. 2007) over the
    * co-occurrence graph — community detection, the graph step between
    * connected components (too coarse: one near-dup chain merges
    * everything) and full clustering: each round every node adopts the
    * most frequent label among its neighbors, ties to the SMALLEST
    * label, for [[LP_ITERS]] synchronous rounds from label = own id.
    * Every rule is a deterministic total order (count desc, label asc),
    * so the whole iteration is hash-oracled through the same generated
    * CTE chain discipline as q_pagerank — round count, tie-breaks, and
    * the argmax itself cannot drift between engines.
    *
    * Scale shape per round: one keyed join (edges⋈labels on src,
    * shuffle_hash — label state never broadcasts), one map-side-combined
    * (node, label) count, one node-keyed WindowGroupLimit argmax;
    * state checkpointed per round (O(1) lineage). Identical dataflow to
    * the Pregel LPA GraphX ships, expressed relationally.
    */
  val qLabelProp = Q(
    "q_label_prop",
    (s, d) => labelPropLoop(s, d, Materialize(_)).run(LP_ITERS, 1).orderBy("node"),
    Some(labelPropOracle)
  )

  /** Label propagation as an [[Iterate.Loop]]: the undirected
    * co-purchase graph and its node set (`stage`d — in [[qLabelProp]]
    * the basket relation too, r14: the un-staged union otherwise built
    * the FULL pair pipeline, basket self-join included, once per
    * direction), every node labelled with its own id, and
    * [[labelPropStep]].
    */
  private[graft] def labelPropLoop(s: SparkSession, d: String, stage: DataFrame => DataFrame)
      : Iterate.Loop[DataFrame] = {
    val und = stage(undirected(stage(copurchaseEdges(stage(orderItems(s, d)))), "pa", "pb"))
    val nodes = stage(und.select(col("src").as("node")).distinct())
    Iterate.Loop(stage(nodes.select(col("node"), col("node").as("label"))),
      labelPropStep(und))
  }

  /** ONE synchronous LPA round: the edges⋈labels shuffle_hash join, the
    * map-side-combined (node, label) count, and the node-keyed
    * WindowGroupLimit argmax (count desc, label asc).
    */
  private def labelPropStep(und: DataFrame)(labels: DataFrame, r: Iterate.Round): DataFrame =
    r.keep(
      und.join(labels.hint("shuffle_hash"), col("src") === col("node"))
        .groupBy(col("dst"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("dst").orderBy(col("cnt").desc, col("label").asc)))
        .where(col("rn") === 1)
        .select(col("dst").as("node"), col("label")))

  /** One code path emits the LPA round CTEs (q_pagerank discipline). */
  private def labelPropOracle: String = {
    val its = (1 to LP_ITERS).map { k =>
      s"""l$k AS (
         |  SELECT node, label FROM (
         |    SELECT e.dst AS node, r.label AS label, count(*) AS cnt,
         |           row_number() OVER (PARTITION BY e.dst
         |                              ORDER BY count(*) DESC, r.label ASC) AS rn
         |    FROM und e JOIN l${k - 1} r ON e.src = r.node
         |    GROUP BY e.dst, r.label) t
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |pairs AS (
       |  SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS support
       |  FROM items a JOIN items b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2),
       |e AS (SELECT pa, pb FROM pairs WHERE support >= 2),
       |und AS (SELECT pa AS src, pb AS dst FROM e
       |        UNION ALL SELECT pb, pa FROM e),
       |l0 AS (SELECT DISTINCT src AS node, src AS label FROM und),
       |$its
       |SELECT node, label FROM l$LP_ITERS ORDER BY node""".stripMargin
  }

  private val KHOP = 4

  /** MULTI-SOURCE BFS / K-HOP REACHABILITY (r7) — shortest hop distance
    * from a seed set (nation-1 customers) over the trade graph, the
    * provenance-expansion query a curation pipeline runs ("everything
    * within 4 hops of a flagged source") and the neighborhood-sampling
    * primitive under GraphSAGE-style feature extraction. Pure integer
    * BFS levels — no arithmetic at all beyond the hop counter — so the
    * whole iteration is hash-oracled through the q_pagerank generated
    * CTE chain discipline.
    *
    *  Scale shape: FRONTIER-CONTRACTED — each round joins edges against
    * the frontier DELTA only (nodes first reached last round), never
    * the visited set, so per-round work is ∝ edges incident to the
    * frontier (the push-style BFS that Pregel/GraphX run), and an
    * emptied frontier makes remaining rounds free (empty joins, no
    * driver check needed at fixed K). The anti-join against visited is
    * keyed on node id; frontier + visited are checkpointed per round —
    * O(1) lineage, both reused twice per round. Distance-0 seeds that
    * never traded still report dist 0 (reachability includes the seed
    * by definition, both engines).
    */
  val qKhop = Q(
    "q_khop",
    (s, d) => {
      val (_, visited) = khopLoop(s, d, Materialize(_)).run(KHOP, 1)
      visited
        .select(
          when(col("node") % 2 === 0, lit("customer")).otherwise(lit("supplier")).as("kind"),
          expr("node div 2").as("key"),
          col("dist"))
        .orderBy("kind", "key")
    },
    Some(khopOracle)
  )

  /** K-hop BFS as an [[Iterate.Loop]] over (frontier, visited): the
    * trade edges (`stage`d) and the seed set at distance 0, and
    * [[khopStep]].
    */
  private[graft] def khopLoop(s: SparkSession, d: String, stage: DataFrame => DataFrame)
      : Iterate.Loop[(DataFrame, DataFrame)] = {
    val edges = stage(tradeEdges(s, d, stage))
    val seeds = customer(s, d).where(col("c_nationkey") === 1)
      .select((col("c_custkey") * 2).as("node"))
    Iterate.Loop((stage(seeds), stage(seeds.select(col("node"), lit(0).as("dist")))),
      khopStep(edges))
  }

  /** ONE BFS round: the edges⋈frontier shuffle_hash join, the
    * map-side-combined expansion distinct and the keyed visited anti
    * join give the next frontier; visited gains it at distance k.
    */
  private def khopStep(edges: DataFrame)(
      state: (DataFrame, DataFrame), r: Iterate.Round): (DataFrame, DataFrame) = {
    val (frontier, visited) = state
    val nxt = r.keep(
      edges.join(frontier.hint("shuffle_hash"), col("src") === col("node"))
        .select(col("dst").as("node")).distinct()
        .join(visited.hint("shuffle_hash"), Seq("node"), "left_anti"))
    (nxt, r.keep(visited.union(nxt.select(col("node"), lit(r.k).as("dist")))))
  }

  /** One code path emits the BFS round CTEs (q_pagerank discipline):
    * frontier f_k = unvisited neighbors of f_{k-1}; visited v_k
    * accumulates (node, k).
    */
  private def khopOracle: String = {
    val its = (1 to KHOP).map { k =>
      s"""f$k AS (
         |  SELECT DISTINCT e.dst AS node
         |  FROM edges e JOIN f${k - 1} f ON e.src = f.node
         |  LEFT JOIN v${k - 1} v ON e.dst = v.node
         |  WHERE v.node IS NULL),
         |v$k AS (SELECT node, dist FROM v${k - 1}
         |        UNION ALL SELECT node, $k AS dist FROM f$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH base AS (
       |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS sp
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |edges AS (SELECT c AS src, sp AS dst FROM base
       |          UNION ALL SELECT sp, c FROM base),
       |seeds AS (SELECT c_custkey * 2 AS node FROM customer WHERE c_nationkey = 1),
       |f0 AS (SELECT node FROM seeds),
       |v0 AS (SELECT node, 0 AS dist FROM seeds),
       |$its
       |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
       |       node // 2 AS key, CAST(dist AS INTEGER) AS dist
       |FROM v$KHOP ORDER BY kind, key""".stripMargin
  }

  /** NEIGHBORHOOD-JACCARD LINK PREDICTION (r7) — the classic
    * common-neighbors score over the support-≥2 co-purchase graph:
    * for node pairs that are NOT already edges, J(a,b) =
    * |N(a)∩N(b)| / (|N(a)|+|N(b)|−|N(a)∩N(b)|), min overlap 2, top 25.
    * The recommender/knowledge-graph completion primitive ("parts
    * bought with the same things are substitutes"), and on a near-dup
    * pair graph the score that finds MISSED duplicate pairs two hops
    * apart — the link-prediction complement of q_triangles' clustering
    * audit.
    *
    * Shape: common neighbors come from the SAME oriented wedge-close
    * two-join as q_triangles (per-shared-neighbor fan-out bounded by
    * degree; degree-cap hot nodes upstream under Zipf skew), then one
    * (a,b)-keyed count, an anti join against the edge set (existing
    * links are not predictions), and two degree joins — shuffle_hash
    * pinned, a corpus-scaled degree table never broadcasts. The score
    * is exact-BIGINT intersection over exact-BIGINT union — ONE IEEE
    * division — and top-25 plans TakeOrderedAndProject.
    */
  val qJaccard = Q(
    "q_jaccard",
    (s, d) => {
      // e staged once (r14): the inline form rebuilt the whole pair
      // pipeline THREE times — und's two directions and the
      // existing-edge anti join below
      val e = Materialize(copurchaseEdges(Materialize(orderItems(s, d))))
      val und = Materialize(undirected(e, "pa", "pb"))
      val deg = und.groupBy("src").agg(count(lit(1)).as("deg"))
      val wa = und.select(col("src").as("n"), col("dst").as("a"))
      val wb = und.select(col("src").as("n2"), col("dst").as("b"))
      val common = wa
        .join(wb.hint("shuffle_hash"), col("n") === col("n2") && col("a") < col("b"))
        .groupBy("a", "b")
        .agg(count(lit(1)).as("inter"))
        .where(col("inter") >= 2)
      common
        .join(e.hint("shuffle_hash"),
          col("a") === col("pa") && col("b") === col("pb"), "left_anti")
        .join(deg.select(col("src").as("da_n"), col("deg").as("da")).hint("shuffle_hash"),
          col("a") === col("da_n"))
        .join(deg.select(col("src").as("db_n"), col("deg").as("db")).hint("shuffle_hash"),
          col("b") === col("db_n"))
        .select(col("a"), col("b"), col("inter"),
          round(col("inter").cast("double") / (col("da") + col("db") - col("inter")), 6)
            .as("jaccard"))
        .orderBy(col("jaccard").desc, col("a").asc, col("b").asc)
        .limit(25)
    },
    Some("""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
            pairs AS (
              SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS support
              FROM items a JOIN items b
                ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
              GROUP BY 1, 2),
            e AS (SELECT pa, pb FROM pairs WHERE support >= 2),
            und AS (SELECT pa AS src, pb AS dst FROM e
                    UNION ALL SELECT pb, pa FROM e),
            deg AS (SELECT src, count(*) AS deg FROM und GROUP BY src),
            common AS (
              SELECT wa.dst AS a, wb.dst AS b, count(*) AS inter
              FROM und wa JOIN und wb ON wa.src = wb.src AND wa.dst < wb.dst
              GROUP BY 1, 2 HAVING count(*) >= 2),
            nonedge AS (
              SELECT c.a, c.b, c.inter FROM common c
              LEFT JOIN e ON c.a = e.pa AND c.b = e.pb
              WHERE e.pa IS NULL)
            SELECT n.a, n.b, n.inter,
                   round(CAST(n.inter AS DOUBLE) / (da.deg + db.deg - n.inter), 6) AS jaccard
            FROM nonedge n
            JOIN deg da ON n.a = da.src
            JOIN deg db ON n.b = db.src
            ORDER BY jaccard DESC, a ASC, b ASC LIMIT 25""")
  )

  /** Deterministic per-parent neighbor rank — the q_sample_per_key
    * idiom on edges: a Knuth hash of (src·1009 + dst) gives each
    * parent an independent pseudo-random neighbor order any engine
    * re-derives from the ids alone. ONE text, both dialects. */
  private val nbrHashSql =
    "(src * 1009 + dst) % 2147483647 * 2654435761 % 4294967296"

  /** GRAPHSAGE NEIGHBOR SAMPLING (r7) — the minibatch-construction
    * primitive under GNN training (Hamilton et al. 2017): from each
    * seed (nation-1 customers, the q_khop seed set), sample ≤3
    * hop-1 neighbors and ≤2 hop-2 neighbors per hop-1 node,
    * DETERMINISTICALLY — the neighbor order is a Knuth hash of
    * (parent, child), so any engine, any epoch re-run, and the oracle
    * all draw the same computation graph (no rand(), the E16 sampling
    * discipline applied to edges). Emits the sampled computation-graph
    * edges (root, hop, parent, child).
    *
    * Scale shape: each hop is edges ⋈ frontier (shuffle_hash — the
    * frontier never broadcasts at GNN-corpus scale) into a per-parent
    * rank window that Spark rewrites to WindowGroupLimit — each
    * shuffle partition keeps only its local top-k per parent, so ≤ k·
    * |frontier| rows cross the exchange, never the full adjacency
    * fan-out (THE property that makes sampled GNN training tractable
    * on power-law graphs: a celebrity node contributes k rows, not
    * millions). Hop-2 samples are per-NODE, not per-(root, node) —
    * shared across roots like a per-epoch fixed sample, collapsing
    * repeated work on overlapping neighborhoods.
    */
  val qGraphSample = Q(
    "q_graph_sample",
    (s, d) => {
      val edges = Materialize(tradeEdges(s, d, Materialize(_)))
      val seeds = customer(s, d).where(col("c_nationkey") === 1)
        .select((col("c_custkey") * 2).as("node"))
      val w = Window.partitionBy("src").orderBy(expr(nbrHashSql).asc, col("dst").asc)
      val ranked = edges.withColumn("rn", row_number().over(w))
      val h1 = ranked.where(col("rn") <= 3)
        .join(seeds.hint("shuffle_hash"), col("src") === col("node"))
        .select(col("src").as("root"), col("dst").as("n1"))
      val h2adj = ranked.where(col("rn") <= 2)
        .select(col("src").as("p2"), col("dst").as("n2"))
      val hop1 = h1.select(col("root"), lit(1).as("hop"),
        col("root").as("parent"), col("n1").as("child"))
      val hop2 = h1
        .join(h2adj.hint("shuffle_hash"), col("n1") === col("p2"))
        .select(col("root"), lit(2).as("hop"), col("n1").as("parent"), col("n2").as("child"))
      hop1.union(hop2).orderBy("root", "hop", "parent", "child")
    },
    Some(s"""WITH base AS (
               SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS sp
               FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
             edges AS (SELECT c AS src, sp AS dst FROM base
                       UNION ALL SELECT sp, c FROM base),
             seeds AS (SELECT c_custkey * 2 AS node FROM customer WHERE c_nationkey = 1),
             ranked AS (
               SELECT src, dst,
                      row_number() OVER (PARTITION BY src
                                         ORDER BY $nbrHashSql ASC, dst ASC) AS rn
               FROM edges),
             h1 AS (SELECT r.src AS root, r.dst AS n1
                    FROM ranked r JOIN seeds s ON r.src = s.node WHERE r.rn <= 3),
             h2adj AS (SELECT src AS p2, dst AS n2 FROM ranked WHERE rn <= 2)
             SELECT root, 1 AS hop, root AS parent, n1 AS child FROM h1
             UNION ALL
             SELECT h1.root, 2 AS hop, h1.n1 AS parent, h2adj.n2 AS child
             FROM h1 JOIN h2adj ON h1.n1 = h2adj.p2
             ORDER BY root, hop, parent, child""")
  )

  /** Steps per walk (DeepWalk/node2vec use 40–80; 4 keeps the declared
    * query's oracle a 4-deep CTE chain while exercising the identical
    * per-step plan).
    */
  private val WALK_STEPS = 4

  /** The per-step neighbor choice, shared verbatim (modulo dialect
    * integer division/modulo spelling — none needed: `%` and `*` parse
    * identically) between the Spark expression and the DuckDB CTE:
    * rank = ((walk·1000003 + step·7919 + cur·31) mod p) · A mod 2^32
    * mod deg. All operands non-negative, every intermediate < 2^63
    * (pre-mod sum < 10^12·|nodes|; post-mod < 10^9+7; ·A < 2.7·10^18).
    */
  private def walkChoice(walk: Column, step: Column, cur: Column): Column =
    ((walk * lit(1000003L) + step * lit(7919L) + cur * lit(31L))
      % lit(1000000007L)) * lit(2654435761L) % lit(4294967296L)

  /** DETERMINISTIC RANDOM WALKS (r8) — the DeepWalk/node2vec corpus
    * generator: from every sampled start node, a WALK_STEPS-step walk
    * whose step-i choice is a hash of (walk_id, i, current node) taken
    * mod the node's degree — no rand(), so walks are reproducible,
    * partition-invariant, and ORACLE-able (the q_sample_hash
    * discipline applied to graph traversal). Neighbor ranks come from
    * one src-keyed window over the sorted adjacency (rank 0..deg−1 by
    * dst), the same total order in both engines.
    *
    * Scale shape: each step is TWO keyed shuffle_hash equi-joins with
    * BOUNDED build sides — walks⋈degree builds the node-scale degree
    * table; the walks⋈ranked adjacency probe on (src, rnk) builds the
    * WALK-scale side and streams the adjacency (the r12 full-sf10
    * ledger killed both alternatives: building the edge-scale side
    * OOMs — the r10 q_bleu hash-build class — and sort-merge re-sorts
    * ~100M adjacency rows per step for a 40k-walk probe) — each
    * emitting EXACTLY ONE row per walk:
    * a celebrity node's adjacency is probed at one rank, never fanned
    * out and filtered (work ∝ |walks|·steps, independent of degree
    * skew). Rounds Materialize like q_pagerank/q_khop. The oracle is a
    * recursive CTE carrying the identical choice expression.
    */
  val qRandomWalk = Q(
    "q_random_walk",
    (s, d) => {
      val (_, out) = walkLoop(s, d, Materialize(_)).run(WALK_STEPS, 1)
      out.select(col("walk_id"), col("step"), col("cur").as("node"))
        .orderBy("walk_id", "step")
    },
    // s-interpolated so the recursion bound derives from the ONE
    // WALK_STEPS constant the Spark loop uses — a hardcoded `< 4`
    // here would silently desynchronize the dialects on any change
    Some(s"""WITH RECURSIVE
            base AS (
              SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS sp
              FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
            edges AS (
              SELECT c AS src, sp AS dst FROM base
              UNION ALL SELECT sp AS src, c AS dst FROM base),
            ranked AS (
              SELECT src, dst,
                     row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS rnk
              FROM edges),
            deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src),
            starts AS (SELECT src AS node FROM deg WHERE src % 40 = 0),
            walk(walk_id, step, cur) AS (
              SELECT node, CAST(0 AS INTEGER), node FROM starts
              UNION ALL
              SELECT w.walk_id, CAST(w.step + 1 AS INTEGER), r.dst
              FROM walk w
              JOIN deg g ON g.src = w.cur
              JOIN ranked r ON r.src = w.cur
               AND r.rnk = (w.walk_id * 1000003 + (w.step + 1) * 7919 + w.cur * 31)
                            % 1000000007 * 2654435761 % 4294967296 % g.deg
              WHERE w.step < $WALK_STEPS)
            SELECT walk_id, step, cur AS node FROM walk
            ORDER BY walk_id, step""")
  )

  /** Random walks as an [[Iterate.Loop]] over (walks, every step so
    * far): the trade edges' dst-ranked adjacency and degree table
    * (`stage`d) and one walk from every 40th node, and [[walkStep]].
    */
  private[graft] def walkLoop(s: SparkSession, d: String, stage: DataFrame => DataFrame)
      : Iterate.Loop[(DataFrame, DataFrame)] = {
    val edges = tradeEdges(s, d, stage)
    val ranked = stage(edges
      .withColumn("rnk",
        row_number().over(Window.partitionBy("src").orderBy("dst")) - 1))
    val deg = stage(edges.groupBy("src").agg(count(lit(1)).as("deg")))
    val walks = stage(deg.select(col("src").as("node")).where(col("node") % 40 === 0)
      .select(col("node").as("walk_id"), lit(0).as("step"), col("node").as("cur")))
    Iterate.Loop((walks, walks), walkStep(deg, ranked))
  }

  /** ONE walk step: two keyed shuffle_hash equi-joins with bounded build
    * sides (node-scale degree lookup; WALK-scale probe side against the
    * streamed adjacency — see [[qRandomWalk]]'s scale note). One row per
    * walk crosses each exchange — never a node's fan-out.
    */
  private def walkStep(deg: DataFrame, ranked: DataFrame)(
      state: (DataFrame, DataFrame), r: Iterate.Round): (DataFrame, DataFrame) = {
    val (walks, out) = state
    val next = r.keep(
      walks
        .join(deg.hint("shuffle_hash"), col("cur") === col("src"))
        .select(col("walk_id"), lit(r.k).as("step"), col("cur"),
          (walkChoice(col("walk_id"), lit(r.k.toLong), col("cur")) % col("deg")).as("r"))
        // build the WALK-scale side and STREAM the adjacency: the r12
        // sf10 ledger killed both alternatives — a hash build of the
        // edge-scale side OOMs (the r10 q_bleu class), and sort-merge
        // re-sorts ~100M adjacency rows EVERY step for a 40k-row probe
        .hint("shuffle_hash")
        .join(ranked,
          col("cur") === ranked("src") && col("r") === ranked("rnk"))
        .select(col("walk_id"), col("step"), col("dst").as("cur")))
    (next, out.union(next))
  }

  val all: Seq[Q] = Seq(qCooccur, qPmi, qTriangles, qPagerank, qLabelProp, qKhop,
    qJaccard, qGraphSample, qRandomWalk)
}
