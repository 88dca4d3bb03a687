package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Deterministic sampling, corpus shuffling, reshaping, and layout-key
  * operators — the data-prep surface a training pipeline needs BETWEEN
  * the analytics (E1-E9) and the dedup/similarity families (E10-E13):
  * carve out eval samples, rebalance the language mix, bound per-user
  * contributions, fix the training order, audit skew, and lay data out
  * for 2-D skipping. SURVEY §2.C family E16.
  *
  * Design rule shared by every operator here: NO `rand()` and NO
  * engine-native hash function anywhere. Randomness is a Knuth
  * multiplicative hash in EXACT integer arithmetic (the `q_split_assign`
  * discipline, TextOps.scala) built from ONE code path ([[bucketSql]])
  * that both the Spark plan (`expr`) and the DuckDB oracle parse as the
  * same text — a sample that any engine, any re-run, and any subset of
  * the corpus reproduces bit-for-bit. At 100 TB that property is what
  * makes a sample auditable: membership is a pure function of the row's
  * id, so a re-run (or a lawyer) can re-derive exactly why a row is in
  * the eval set.
  */
object Sampling {
  import Tables._

  /** Exact-integer Knuth bucket in portable SQL text. Reduce mod the
    * Mersenne prime 2^31−1 BEFORE the multiply so the product tops out
    * at ~5.7e18 < 2^63−1 (exact for every BIGINT id on every engine —
    * see the overflow note on TextOps.qSplitAssign). `salt` shifts the
    * input stream so each operator draws an independent hash: the 10%
    * sample must not be a subset of the "train" split.
    * Precedence note: `%` and `*` share a level and associate left in
    * both Spark SQL and DuckDB, so the unparenthesized chain is
    * ((((c%p)+salt)%p)*K % 2^32) % mod.
    */
  def bucketSql(c: String, salt: Long, mod: Long): String =
    s"($c % 2147483647 + $salt) % 2147483647 * 2654435761 % 4294967296 % $mod"

  private def bucket(c: String, salt: Long, mod: Long): Column =
    expr(bucketSql(c, salt, mod))

  // ---------------------------------------------------------------------
  // E16.1 uniform sample
  // ---------------------------------------------------------------------

  /** 10% deterministic uniform document sample. A pure per-row
    * projection: no shuffle, no state, membership decided from `doc_id`
    * alone, so at 100 TB the scan prunes to three columns and the
    * filter runs map-side at full scan speed. Salt 9176 decorrelates
    * from the q_split_assign stream (same id, different hash). */
  val qSampleHash = Q(
    "q_sample_hash",
    (s, d) =>
      documents(s, d)
        .where(bucket("doc_id", 9176L, 1000L) < 100)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id"),
    Some(s"""SELECT doc_id, lang, n_chars FROM documents
             WHERE ${bucketSql("doc_id", 9176L, 1000L)} < 100
             ORDER BY doc_id""")
  )

  // ---------------------------------------------------------------------
  // E16.2 stratified sample (training-mix rebalance)
  // ---------------------------------------------------------------------

  /** Per-language sampling rates — the training-mix rebalance: keep 10%
    * of the dominant language (`en` is ~44% of the corpus) and 50% of
    * everything else. Rates live in one CASE expression, so this stays
    * a shuffle-free per-row projection like the uniform sample; with a
    * large rate table the same shape becomes a broadcast join against
    * the rate dimension. */
  val qSampleStratified = Q(
    "q_sample_stratified",
    (s, d) =>
      documents(s, d)
        .withColumn("rate", when(col("lang") === "en", 100L).otherwise(500L))
        .where(bucket("doc_id", 40832L, 1000L) < col("rate"))
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id"),
    Some(s"""SELECT doc_id, lang FROM documents
             WHERE ${bucketSql("doc_id", 40832L, 1000L)}
                   < CASE WHEN lang = 'en' THEN 100 ELSE 500 END
             ORDER BY doc_id""")
  )

  // ---------------------------------------------------------------------
  // E16.3 bounded per-key sample (deterministic reservoir)
  // ---------------------------------------------------------------------

  /** At most 3 events per user, chosen by hash rank — the deterministic
    * analogue of per-key reservoir sampling (caps any single user's
    * contribution to a training set; hot keys contribute exactly k rows
    * no matter how many they own). One hash shuffle on user_id; Spark
    * plans the rn<=3 filter as WindowGroupLimit, which bounds each
    * task's buffer at k rows per key — same bounded-memory shape as
    * TopKAgg (E5), with the hash as the ranking. */
  val qSamplePerKey = Q(
    "q_sample_per_key",
    (s, d) => {
      val w = Window
        .partitionBy("user_id")
        .orderBy(bucket("event_id", 5501L, 4294967296L).asc, col("event_id").asc)
      events(s, d)
        .select(col("user_id"), col("event_id"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .orderBy("user_id", "event_id")
    },
    Some(s"""SELECT user_id, event_id, rn FROM (
               SELECT user_id, event_id,
                      CAST(row_number() OVER (
                        PARTITION BY user_id
                        ORDER BY ${bucketSql("event_id", 5501L, 4294967296L)} ASC,
                                 event_id ASC) AS INTEGER) AS rn
               FROM events) t
             WHERE rn <= 3
             ORDER BY user_id, event_id""")
  )

  // ---------------------------------------------------------------------
  // E16.4 deterministic corpus shuffle (training order)
  // ---------------------------------------------------------------------

  /** The training-order shuffle: a reproducible global permutation of
    * the corpus, fixed by hashing each id — not `rand()`, so every
    * epoch, every re-run, and every engine derives the same order, and
    * a resumed job can seek to "position after doc X" by recomputing
    * X's key. Emits (shuffle_key, doc_id) sorted by key: at 100 TB a
    * total-order sort is a range-partitioned Exchange + per-partition
    * sort — Spark's native TeraSort shape — with NO global row_number
    * (a single-partition window would serialize the corpus through one
    * task). Writers consume partitions in key order. */
  val qInterleave = Q(
    "q_interleave",
    (s, d) =>
      documents(s, d)
        .select(
          bucket("doc_id", 271828L, 4294967296L).as("shuffle_key"),
          col("doc_id"))
        .orderBy("shuffle_key", "doc_id"),
    Some(s"""SELECT ${bucketSql("doc_id", 271828L, 4294967296L)} AS shuffle_key, doc_id
             FROM documents ORDER BY shuffle_key, doc_id""")
  )

  /** MULTI-EPOCH RESHUFFLE (r7) — [[qInterleave]] extended to the full
    * training loop: epoch e reads the corpus in a FRESH deterministic
    * permutation, keyed by the same Knuth hash with the salt shifted
    * per epoch (`271828 + e·97003`). Same-seed-every-epoch is a known
    * convergence bug (the model sees identical batch boundaries each
    * pass); `rand()` is irreproducible; the epoch-salted hash gives
    * decorrelated orders that any engine re-derives from ids alone —
    * and a resumed epoch-e job seeks by recomputing keys at salt e.
    *
    * One expression string (epoch folded into the salt arithmetic,
    * sum < 2^31+5·10^5 so the Knuth multiply stays exact BIGINT) is
    * parsed by both engines — the [[bucketSql]] one-code-path rule.
    * Scale: explode ×E epochs is a per-row projection; the only data-
    * scale work is the (epoch, key) range-partitioned sort — TeraSort
    * shape, epochs land in disjoint key ranges so writers stream epoch
    * by epoch; no window, no rand, no driver state. SamplingSpec proves
    * per-epoch permutation completeness + cross-epoch decorrelation.
    */
  private val epochKeySql =
    "(doc_id % 2147483647 + 271828 + epoch * 97003) % 2147483647" +
      " * 2654435761 % 4294967296"
  val qEpochShuffle = Q(
    "q_epoch_shuffle",
    (s, d) =>
      documents(s, d)
        .select(col("doc_id"), explode(sequence(lit(0L), lit(2L))).as("epoch"))
        .select(col("epoch").cast("int").as("epoch"),
          expr(epochKeySql).as("shuffle_key"), col("doc_id"))
        .orderBy("epoch", "shuffle_key", "doc_id"),
    Some(s"""SELECT CAST(epoch AS INTEGER) AS epoch,
                    $epochKeySql AS shuffle_key, doc_id
             FROM documents, (SELECT unnest(range(0, 3)) AS epoch) e
             ORDER BY epoch, shuffle_key, doc_id""")
  )

  // ---------------------------------------------------------------------
  // E16.5 pivot / unpivot (reshape)
  // ---------------------------------------------------------------------

  private val splitCaseSql: String = {
    val b = bucketSql("doc_id", 0L, 100L)
    s"CASE WHEN $b < 90 THEN 'train' WHEN $b < 95 THEN 'val' ELSE 'test' END"
  }

  /** Split-mix audit as a pivot: languages × train/val/test counts —
    * `groupBy(lang).pivot(split)`. The pivot is a plain hash aggregate
    * over (lang, split) rewritten to per-column conditional aggregates,
    * so it keeps partial aggregation (map-side combine) and the output
    * is |langs| rows regardless of corpus size. Explicit value list
    * (train/val/test) — never let pivot run the distinct-values job at
    * 100 TB. Absent combinations surface as 0, not null (coalesce; the
    * oracle's FILTER form is never-null to begin with). */
  val qPivot = Q(
    "q_pivot",
    (s, d) =>
      documents(s, d)
        .withColumn("split", expr(splitCaseSql))
        .groupBy("lang")
        .pivot("split", Seq("train", "val", "test"))
        .agg(count(lit(1)))
        .select(
          col("lang"),
          coalesce(col("train"), lit(0L)).as("train"),
          coalesce(col("val"), lit(0L)).as("val"),
          coalesce(col("test"), lit(0L)).as("test"))
        .orderBy("lang"),
    Some(s"""SELECT lang,
                    count(*) FILTER (WHERE $splitCaseSql = 'train') AS train,
                    count(*) FILTER (WHERE $splitCaseSql = 'val')   AS val,
                    count(*) FILTER (WHERE $splitCaseSql = 'test')  AS test
             FROM documents GROUP BY lang ORDER BY lang""")
  )

  /** The inverse reshape: melt per-document wide metrics into long
    * (doc_id, metric, value) triples — the shape metric stores and
    * feature pipelines ingest. `unpivot` is a Generator-style per-row
    * fan-out (k output rows per input row, no shuffle); the final sort
    * is the only Exchange. */
  val qUnpivot = Q(
    "q_unpivot",
    (s, d) =>
      documents(s, d)
        .select(
          col("doc_id"),
          col("n_chars").cast("long").as("n_chars"),
          size(split(col("text"), " ")).cast("long").as("ws_tokens"))
        .unpivot(
          Array(col("doc_id")),
          Array(col("n_chars"), col("ws_tokens")),
          "metric",
          "value")
        .orderBy("doc_id", "metric"),
    Some("""SELECT doc_id, 'n_chars' AS metric, n_chars AS value FROM documents
            UNION ALL
            SELECT doc_id, 'ws_tokens' AS metric,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS value FROM documents
            ORDER BY doc_id, metric""")
  )

  // ---------------------------------------------------------------------
  // E16.5b sequence packing (concat-then-chunk)
  // ---------------------------------------------------------------------

  /** Pack documents into fixed 2048-token training sequences — the
    * GPT-style concat-then-chunk: lay the corpus out in its
    * deterministic training order (the [[qInterleave]] hash), run a
    * cumulative token count, and every doc's pack is the 2048-token
    * chunk its FIRST token lands in. Distribution shape: packing is
    * per-SHARD (8 hash shards; each shard concatenates only its own
    * stream, `pack_id = shard · 2^40 + chunk`), because a single global
    * running sum is a one-partition window — and per-shard packing is
    * what a real pipeline does anyway: each writer task packs its own
    * shard independently, no cross-worker coordination. The declared
    * query fixes 8 shards (oracle determinism); at scale the shard
    * count is corpus_tokens / writer-shard-size (thousands), keeping
    * each shard's sequential scan — the irreducible cost of exact
    * packing — at one writer's worth of data while the window state
    * stays O(1) per shard. One shuffle (the shard hash), exact
    * integers end-to-end. */
  val qPack = Q(
    "q_pack",
    (s, d) => {
      val w = Window
        .partitionBy("shard")
        .orderBy("shuffle_key", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      documents(s, d)
        .select(
          col("doc_id"),
          bucket("doc_id", 7333L, 8L).as("shard"),
          bucket("doc_id", 271828L, 4294967296L).as("shuffle_key"),
          size(split(col("text"), " ")).cast("long").as("toks"))
        .withColumn("cum_toks", sum(col("toks")).over(w))
        .withColumn(
          "pack_id",
          col("shard") * lit(1099511627776L) + expr("(cum_toks - toks) div 2048"))
        .select(col("doc_id"), col("shard"), col("toks"), col("cum_toks"), col("pack_id"))
        .orderBy("doc_id")
    },
    Some(s"""SELECT doc_id, shard, toks, cum_toks,
                    shard * 1099511627776 + (cum_toks - toks) // 2048 AS pack_id
             FROM (
               SELECT doc_id,
                      ${bucketSql("doc_id", 7333L, 8L)} AS shard,
                      ${bucketSql("doc_id", 271828L, 4294967296L)} AS shuffle_key,
                      CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
                      CAST(sum(CAST(len(string_split(text, ' ')) AS BIGINT)) OVER (
                        PARTITION BY ${bucketSql("doc_id", 7333L, 8L)}
                        ORDER BY ${bucketSql("doc_id", 271828L, 4294967296L)}, doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_toks
               FROM documents) t
             ORDER BY doc_id""")
  )

  // ---------------------------------------------------------------------
  // E16.6 skew audit (heavy hitters)
  // ---------------------------------------------------------------------

  /** Exact heavy-hitter audit: users owning > 1.2× the mean event count
    * — the skew report that decides where salting (q_join_salted) and
    * per-key caps (q_sample_per_key) are needed. Two hash aggregates
    * (per-user counts, then the 1-row corpus stats) + a broadcast of
    * the 1-row side; the threshold compare is kept in EXACT integer
    * cross-multiplied form (5·n·users > 6·total ⟺ n > 1.2·mean) — no
    * mean, no division, no float, so the cut line is bit-identical on
    * every engine. (The driver corpus is near-uniform: 1.2× already
    * isolates its tail — 9 of 150 users at sf0.01 — where a production
    * Zipf corpus would use 2-10×.) */
  val qHeavyHitters = Q(
    "q_heavy_hitters",
    (s, d) => {
      val counts = events(s, d).groupBy("user_id").agg(count(lit(1)).as("n_events"))
      val stats = counts.agg(
        sum("n_events").as("total"),
        count(lit(1)).as("users"))
      counts
        .crossJoin(broadcast(stats))
        .where(col("n_events") * col("users") * 5 > col("total") * 6)
        .select(col("user_id"), col("n_events"))
        .orderBy("user_id")
    },
    Some("""WITH counts AS (
              SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id),
            stats AS (
              SELECT sum(n_events) AS total, count(*) AS users FROM counts)
            SELECT user_id, n_events FROM counts, stats
            WHERE n_events * users * 5 > total * 6
            ORDER BY user_id""")
  )

  /** Statistical outlier audit: users whose event count exceeds
    * mean + 2σ — the abuse/bot detector a corpus pipeline runs before
    * per-user caps (q_sample_per_key decides HOW MUCH to keep; this
    * decides WHO is anomalous). Companion to [[qHeavyHitters]]'s fixed
    * multiplicative threshold: here the cut line is derived from the
    * distribution itself.
    *
    * The z-score test is kept EXACT by cross-multiplication — no mean,
    * no sqrt, no float:  c > S/n + 2σ  ⟺  n·c − S > 0  ∧
    * (n·c − S)² > 4·(n·Q − S²)  with S = Σc, Q = Σc² (both sides are
    * n²·(c−mean)² vs 4·n²·σ²). All terms ride DECIMAL(38,0) (128-bit):
    * at 10⁹ users the squared margin reaches ~10²⁶ and Q alone ~10²¹ —
    * past BIGINT, inside decimal128 with ~12 digits to spare. The
    * oracle uses HUGEINT for the same 128-bit exactness.
    *
    * Scale: one per-user count aggregate (map-side combined), a 1-ROW
    * stats aggregate over the |users| counts, broadcast back onto the
    * counts — the flag compare is a shuffle-free per-row projection.
    * Nothing data-scale is re-shuffled; the only full pass is the
    * count itself.
    */
  val qAnomaly = Q(
    "q_anomaly",
    (s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val counts = events(s, d).groupBy("user_id").agg(count(lit(1)).as("n_events"))
      val stats = counts.agg(
        count(lit(1)).cast(dec).as("n"),
        sum("n_events").cast(dec).as("s"),
        sum(col("n_events").cast(dec) * col("n_events")).cast(dec).as("q"))
      val margin = col("n") * col("n_events") - col("s")
      counts
        .crossJoin(broadcast(stats))
        .where(margin > 0 && margin * margin > lit(4) * (col("n") * col("q") - col("s") * col("s")))
        .select(col("user_id"), col("n_events"))
        .orderBy("user_id")
    },
    Some("""WITH counts AS (
              SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id),
            stats AS (
              SELECT CAST(count(*) AS HUGEINT) AS n,
                     CAST(sum(n_events) AS HUGEINT) AS s,
                     CAST(sum(CAST(n_events AS HUGEINT) * n_events) AS HUGEINT) AS q
              FROM counts)
            SELECT user_id, n_events FROM counts, stats
            WHERE n * n_events - s > 0
              AND (n * n_events - s) * (n * n_events - s) > 4 * (n * q - s * s)
            ORDER BY user_id""")
  )

  // ---------------------------------------------------------------------
  // E16.7 quantile bucketing (ntile)
  // ---------------------------------------------------------------------

  /** Spend quartiles per customer — `ntile(4)` semantics over a TOTAL
    * order, WITHOUT the one-partition global window (`ntile(n) OVER
    * (ORDER BY …)` funnels every row through ONE task — r4's flagged
    * scale-killer; |customers| grows linearly with the corpus). Two-pass
    * shape instead, the `globalRownum` idiom on the ntile sort key:
    *
    *  1. exact global rank: range-partition by (spend DESC, custkey ASC)
    *     — the total order; ties cannot let two engines swap boundaries —
    *     sort within partitions (TeraSort shape, fully parallel), encode
    *     (partition, local position) via `monotonically_increasing_id`,
    *     prefix-sum the |partitions|-row count vector into broadcast
    *     offsets; rank = offset + idx + 1, N rides the same broadcast.
    *  2. closed-form tile from (rank, N) in exact integer arithmetic —
    *     SQL ntile gives the first N mod n tiles ceil(N/n) rows and the
    *     rest floor(N/n):  r ≤ rem·big  ⇒  ⌈r/big⌉,  else
    *     rem + ⌈(r − rem·big)/small⌉. A per-row codegen projection — no
    *     window touches data-scale rows.
    *
    * The per-customer spend is an exact DECIMAL sum cast to double only
    * at the end (one exact-to-IEEE conversion; partial-aggregation order
    * can never change a bit). Output is a pure function of (rank, N), so
    * range-boundary sampling and partition count cannot change a row
    * (PartitionInvarianceSpec sweeps this). */
  val qNtile = Q(
    "q_ntile",
    (s, d) => {
      val parts = 32
      val spend = orders(s, d)
        .groupBy("o_custkey")
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("spend"))
      val local = spend
        .repartitionByRange(parts, col("spend").desc, col("o_custkey").asc)
        .sortWithinPartitions(col("spend").desc, col("o_custkey").asc)
        .select(col("o_custkey"), col("spend"), monotonically_increasing_id().as("mid"))
        // mid = pid·2³³ + position-in-partition (exact integer split)
        .select(
          col("o_custkey"), col("spend"),
          expr("mid div 8589934592").as("pid"),
          (col("mid") % lit(8589934592L)).as("idx"))
      val counts = local.groupBy("pid").agg(count(lit(1)).as("cnt"))
      val wOff = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
      val wAll = Window.orderBy("pid")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      // ≤|partitions| rows — the documented small-side window exception
      val offsets = counts
        .withColumn("offset", coalesce(sum("cnt").over(wOff), lit(0L)))
        .withColumn("n_total", sum("cnt").over(wAll))
        .select("pid", "offset", "n_total")
      local
        .join(broadcast(offsets), "pid")
        .withColumn("rank", col("offset") + col("idx") + lit(1L))
        // ntile(4) closed form: small = N div 4, rem = N mod 4,
        // big = small + 1; first `rem` tiles take `big` rows each.
        .withColumn("small", expr("n_total div 4"))
        .withColumn("rem", col("n_total") % lit(4L))
        .withColumn(
          "quartile",
          when(col("rank") <= col("rem") * (col("small") + lit(1L)),
            expr("(rank - 1) div (small + 1) + 1"))
            .otherwise(
              col("rem") + expr("(rank - rem * (small + 1) - 1) div small") + lit(1L))
            .cast("int"))
        .select(col("o_custkey"), col("spend"), col("quartile"))
        .orderBy("o_custkey")
    },
    Some("""SELECT o_custkey,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend,
                   CAST(ntile(4) OVER (
                     ORDER BY CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) DESC,
                              o_custkey ASC) AS INTEGER) AS quartile
            FROM orders GROUP BY o_custkey
            ORDER BY o_custkey""")
  )

  // ---------------------------------------------------------------------
  // E16.8 Z-order layout key (2-D data skipping)
  // ---------------------------------------------------------------------

  /** Morton/Z-order bit interleave of two dimensions in portable
    * integer arithmetic. Both the Spark Column and the DuckDB SQL are
    * generated from THIS loop, so the 32 shift/mask terms cannot
    * diverge between engines; `div` vs `//` is the only dialect
    * difference (both exact integer division). */
  def zorderSql(x: String, y: String, bits: Int, divOp: String): String =
    (0 until bits)
      .map { j =>
        val pj = 1L << j
        s"($x) $divOp $pj % 2 * ${1L << (2 * j)} + ($y) $divOp $pj % 2 * ${1L << (2 * j + 1)}"
      }
      .mkString("(", " + ", ")")

  /** One Hilbert rotation/accumulation step at level `s` (grid size
    * n = 2^bits), as dialect-portable SQL over columns (x, y, dd) —
    * the Wikipedia xy2d iteration in pure CASE/div/% arithmetic:
    * rx = bit s of x, ry = bit s of y, d += s²·((3rx) XOR ry) with the
    * XOR unrolled to 3rx + ry − 2rx·ry over {0,1}, then the quadrant
    * rotation (ry=0: flip by n−1 when rx=1, then swap). BOTH engines'
    * step expressions come from THIS generator (the zorderSql
    * discipline extended to stateful iteration).
    */
  def hilbertStep(s: Long, n: Long, divOp: String): (String, String, String) = {
    val rx = s"(x $divOp $s % 2)"
    val ry = s"(y $divOp $s % 2)"
    val d = s"dd + $s * $s * (3 * $rx + $ry - 2 * $rx * $ry)"
    val xn = s"CASE WHEN $ry = 1 THEN x WHEN $rx = 1 THEN ${n - 1} - y ELSE y END"
    val yn = s"CASE WHEN $ry = 1 THEN y WHEN $rx = 1 THEN ${n - 1} - x ELSE x END"
    (xn, yn, d)
  }

  /** events laid out on a HILBERT curve over the same (user bucket,
    * time bucket) grid as [[qZorderKey]] — the layout key modern lake
    * clustering defaults to (Hilbert preserves locality strictly
    * better than Morton: every curve step is an adjacent cell, so a
    * 2-D range query touches fewer key runs → fewer row groups; the
    * spec quantifies it on random boxes). 8 bits/dim = 8 generated
    * rotation steps; the whole key is CASE/div/% integer arithmetic —
    * codegen-friendly, no UDF — and the per-step expressions are
    * emitted by [[hilbertStep]] into BOTH the Spark select chain and
    * the oracle's CTE chain, so the 8 rotations cannot diverge.
    * SamplingSpec proves bijectivity over the full 65536-cell grid.
    */
  val qHilbertKey = Q(
    "q_hilbert_key",
    (s, d) => {
      val bits = 8
      var df = events(s, d).selectExpr(
        "event_id",
        "CAST(user_id % 256 AS BIGINT) AS x",
        "CAST((hour(ts) * 60 + minute(ts)) div 6 AS BIGINT) AS y",
        "CAST(0 AS BIGINT) AS dd")
      for (lvl <- (0 until bits).reverse) {
        val (xn, yn, dn) = hilbertStep(1L << lvl, 1L << bits, "div")
        df = df.selectExpr("event_id", s"$xn AS x", s"$yn AS y", s"$dn AS dd")
      }
      df.select(col("dd").as("hkey"), col("event_id")).orderBy("hkey", "event_id")
    },
    Some {
      val bits = 8
      val chain = (0 until bits).reverse.zipWithIndex.map { case (lvl, i) =>
        val (xn, yn, dn) = hilbertStep(1L << lvl, 1L << bits, "//")
        s"""h${i + 1} AS (SELECT event_id, $xn AS x, $yn AS y, $dn AS dd FROM h$i)"""
      }.mkString(",\n            ")
      s"""WITH h0 AS (
            SELECT event_id,
                   CAST(user_id % 256 AS BIGINT) AS x,
                   CAST((hour(CAST(ts AS TIMESTAMP)) * 60 + minute(CAST(ts AS TIMESTAMP))) // 6 AS BIGINT) AS y,
                   CAST(0 AS BIGINT) AS dd
            FROM events),
            $chain
          SELECT dd AS hkey, event_id FROM h$bits ORDER BY hkey, event_id"""
    }
  )

  /** events laid out on a Z-order curve over (user bucket, minute of
    * day) — the E15-adjacent LAYOUT op: sorting a 100 TB table by this
    * key clusters rows that are close in BOTH dimensions into the same
    * parquet row groups, so min/max stats prune 2-D range queries
    * ("user range X AND time window Y") that a single-column sort can
    * only prune on one side. 16 bits per dimension = 32 interleaved
    * terms, all +/·/div/% on exact ints (codegen-friendly, no UDF).
    * Emitting (zkey, event_id) in key order IS the layout: writers
    * stream partitions straight to row groups. */
  val qZorderKey = Q(
    "q_zorder_key",
    (s, d) => {
      val minuteOfDay = "(hour(ts) * 60 + minute(ts))"
      events(s, d)
        .withColumn(
          "zkey",
          expr(zorderSql("user_id % 65536", minuteOfDay, 16, "div")))
        .select(col("zkey"), col("event_id"))
        .orderBy("zkey", "event_id")
    },
    Some {
      val minuteOfDay = "(hour(ts) * 60 + minute(ts))"
      s"""SELECT ${zorderSql("user_id % 65536", minuteOfDay, 16, "//")} AS zkey, event_id
          FROM events ORDER BY zkey, event_id"""
    }
  )

  // ---------------------------------------------------------------------
  // E16.9 contiguous global row numbering (two-pass, no global window)
  // ---------------------------------------------------------------------

  /** Contiguous global row numbers in corpus order — the id assignment a
    * sharded dataset needs (example index files, resumable readers). The
    * naive `row_number() OVER (ORDER BY doc_id)` funnels 100 TB through
    * ONE task (a single-partition window); this is the scalable two-pass
    * idiom instead:
    *
    *  1. range-partition by doc_id and sort within partitions — Spark's
    *     TeraSort shape, fully parallel; `monotonically_increasing_id`
    *     then encodes (partition, local position) as pid·2³³ + idx with
    *     NO window and NO extra exchange;
    *  2. count rows per partition (a |partitions|-row aggregate),
    *     prefix-sum those counts into per-partition offsets (a window
    *     over ≤ |partitions| rows — the qNtile small-side exception),
    *     broadcast them back;  rownum = offset + idx + 1.
    *
    * The offsets side grows with the PARTITION count, not the corpus —
    * broadcastable at any scale. Output is a pure function of doc_id
    * (rank in doc_id order) — range boundaries and partition count can
    * change without changing a single output row, which is what the
    * oracle's one-partition `row_number()` checks.
    */
  private[graft] def globalRownum(
      s: org.apache.spark.sql.SparkSession, d: String, parts: Int): DataFrame = {
      val local = documents(s, d)
        .select(col("doc_id"))
        .repartitionByRange(parts, col("doc_id"))
        .sortWithinPartitions("doc_id")
        .select(col("doc_id"), monotonically_increasing_id().as("mid"))
        // mid = pid·2³³ + position-in-partition (exact integer split)
        .select(
          col("doc_id"),
          expr("mid div 8589934592").as("pid"),
          (col("mid") % lit(8589934592L)).as("idx"))
      val counts = local.groupBy("pid").agg(count(lit(1)).as("cnt"))
      val w = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
      val offsets = counts
        .withColumn("offset", coalesce(sum("cnt").over(w), lit(0L)))
        .select("pid", "offset")
      local
        .join(broadcast(offsets), "pid")
        .select(col("doc_id"), (col("offset") + col("idx") + 1).as("rownum"))
        .orderBy("doc_id")
  }

  val qGlobalRownum = Q(
    "q_global_rownum",
    (s, d) => globalRownum(s, d, 32),
    Some("""SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rownum
            FROM documents ORDER BY doc_id""")
  )

  /** The probe hash: an independent Knuth draw per (anchor, j), reduced
    * mod the corpus size to a 1-based rank. One text, both dialects.
    * Overflow: (doc_id·2+j) % p + 8191 < 2^31 + 2^13, times the Knuth
    * constant stays < 2^63. */
  private val negHashSql =
    "((doc_id * 2 + j) % 2147483647 + 8191) % 2147483647" +
      " * 2654435761 % 4294967296 % n + 1"

  /** NEGATIVE SAMPLING (r7) — the contrastive-pair builder under
    * word2vec/SimCLR/DPR-style training: for every anchor document,
    * k=2 negatives drawn UNIFORMLY over the corpus, deterministically
    * (no rand(): the draw is a Knuth hash of (anchor, j), so every
    * epoch, engine, and the oracle derive the same pairs — the E16
    * reproducibility rule that makes a training set auditable).
    *
    * Mechanism: uniform-over-corpus needs id-space gaps closed, so the
    * draw targets a RANK, not an id — the contiguous 1-based numbering
    * from [[globalRownum]]'s two-pass range-partition (no global
    * window), then ONE rank-keyed shuffle_hash equi-join resolves rank
    * → doc (both sides corpus-scale — never broadcast; the only
    * broadcast is the 1-row count). Probes are a per-row ×k explode at
    * scan speed. A draw that hits its own anchor is dropped (P ≈ k/n;
    * the emitted pair count is the audit — redraw policy belongs
    * upstream), so hash equality pins pair set AND the self-exclusion
    * rule.
    */
  val qNegativeSampling = Q(
    "q_negative_sampling",
    (s, d) => {
      val ranks = globalRownum(s, d, 32)
        .select(col("doc_id").as("m_id"), col("rownum"))
      val n1 = documents(s, d).agg(count(lit(1)).as("n"))
      documents(s, d)
        .select(col("doc_id"), explode(sequence(lit(0L), lit(1L))).as("j"))
        .crossJoin(broadcast(n1))
        .select(col("doc_id"), col("j"), expr(negHashSql).as("target"))
        .join(ranks.hint("shuffle_hash"), col("target") === col("rownum"))
        .where(col("m_id") =!= col("doc_id"))
        .select(col("doc_id"), col("j").cast("int").as("j"), col("m_id").as("neg_id"))
        .orderBy("doc_id", "j")
    },
    Some(s"""WITH ranks AS (
               SELECT doc_id AS m_id, row_number() OVER (ORDER BY doc_id) AS rownum
               FROM documents),
             nn AS (SELECT count(*) AS n FROM documents),
             probes AS (
               SELECT doc_id, j, $negHashSql AS target
               FROM documents, (SELECT unnest(range(0, 2)) AS j) js, nn)
             SELECT doc_id, CAST(j AS INTEGER) AS j, m_id AS neg_id
             FROM probes JOIN ranks ON target = rownum
             WHERE m_id <> doc_id
             ORDER BY doc_id, j""")
  )

  // ---------------------------------------------------------------------
  // E16.10 exact mixture rebalance (downsample to the smallest group)
  // ---------------------------------------------------------------------

  /** Balance the language mix by downsampling every language to the
    * SMALLEST language's share — the mixture-rebalance where the rates
    * are COMPUTED FROM THE DATA rather than declared (q_sample_stratified
    * is the declared-rate form). Membership: keep a row iff
    * `hash_bucket · n_lang < 10⁶ · min_n`, i.e. keep-rate min_n/n_lang
    * — evaluated in exact cross-multiplied integers (bucket < 10⁶ and
    * n_lang ≤ 10¹² keep the product < 2⁶³), so the kept set is a pure
    * deterministic function of (doc_id, the lang histogram) on every
    * engine.
    *
    * Scale shape: one |langs|-row aggregate + its 1-row min, both
    * broadcast (they grow with the number of GROUPS, never the corpus),
    * then a shuffle-free per-row filter at scan speed.
    */
  val qMixBalance = Q(
    "q_mix_balance",
    (s, d) => {
      val c = documents(s, d).groupBy("lang").agg(count(lit(1)).as("n_lang"))
      val m = c.agg(min(col("n_lang")).as("min_n"))
      documents(s, d)
        .select(col("doc_id"), col("lang"))
        .join(broadcast(c), "lang")
        .crossJoin(broadcast(m))
        .where(bucket("doc_id", 777001L, 1000000L) * col("n_lang")
          < col("min_n") * lit(1000000L))
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    },
    Some(s"""WITH c AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang),
             m AS (SELECT min(n_lang) AS min_n FROM c)
             SELECT d.doc_id, d.lang
             FROM documents d JOIN c USING (lang), m
             WHERE ${bucketSql("d.doc_id", 777001L, 1000000L)} * n_lang
                   < 1000000 * min_n
             ORDER BY doc_id""")
  )

  /** TEMPERATURE mixture sampling at α = 1/2 — the multilingual
    * rebalance multilingual pretraining corpora actually ship (XLM-R /
    * mC4 sample languages ∝ p^α, α ∈ (0,1)): flatten the language size
    * distribution without collapsing everything to the smallest
    * language the way [[qMixBalance]]'s α = 1 does. Per-row membership
    * keeps a doc of language l with rate (min_n/n_l)^(1/2), so kept
    * counts grow ∝ √n_l — dominant languages still lead, sublinearly.
    *
    * Exactness: the float test `u < (min_n/n_l)^α` (u = h/10⁶ the
    * Knuth-hash uniform) is CROSS-SQUARED into h²·n_l < 10¹²·min_n —
    * pure 128-bit integer arithmetic (Spark DECIMAL(38,0) ⟷ DuckDB
    * HUGEINT, the q_anomaly pairing): no sqrt, no pow, no float in the
    * membership decision at any corpus size (h² ≤ 10¹², ×n_l ≤ 10¹³ at
    * web scale ≈ 10²⁵ ≪ 10³⁸). α values beyond 1/2 cross-multiply the
    * same way from rational exponents (p/q powers both sides q times).
    * Scale shape identical to q_mix_balance: |langs|-row broadcast
    * sides + a shuffle-free per-row compare at scan speed.
    */
  val qMixTemperature = Q(
    "q_mix_temperature",
    (s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val c = documents(s, d).groupBy("lang").agg(count(lit(1)).as("n_lang"))
      val m = c.agg(min(col("n_lang")).as("min_n"))
      val h = bucket("doc_id", 424243L, 1000000L).cast(dec)
      documents(s, d)
        .select(col("doc_id"), col("lang"))
        .join(broadcast(c), "lang")
        .crossJoin(broadcast(m))
        .where(h * h * col("n_lang") < col("min_n").cast(dec) * lit(1000000000000L))
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    },
    Some(s"""WITH c AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang),
             m AS (SELECT min(n_lang) AS min_n FROM c),
             d2 AS (SELECT doc_id, lang,
                           CAST(${bucketSql("doc_id", 424243L, 1000000L)} AS HUGEINT) AS h
                    FROM documents)
             SELECT d2.doc_id, d2.lang
             FROM d2 JOIN c USING (lang), m
             WHERE h * h * n_lang < CAST(1000000000000 AS HUGEINT) * min_n
             ORDER BY doc_id""")
  )

  /** INCREMENTAL aggregate maintenance — the materialized-view idiom
    * that lets per-key corpus statistics absorb a daily batch without
    * re-scanning the corpus (the aggregation twin of
    * q_incremental_dedup): keep the AGGREGATE STATE (per-key partial
    * aggregates: count, sum, max), aggregate ONLY the new batch, and
    * MERGE the two state tables. Works because these aggregates are
    * commutative monoids — merge(state(A), state(B)) = state(A ∪ B) —
    * the same algebra Spark's own partial/final aggregation exploits
    * per-stage (SURVEY op-7), lifted to the pipeline level.
    *
    * The declared query COMPUTES via the state-merge path (state over
    * split buckets < 90, batch over ≥ 90, union of the two |keys|-sized
    * state tables re-aggregated), and the oracle is the full-corpus
    * groupBy — equality IS the incremental-maintenance law, hash-checked
    * at t2. Cost shape: O(batch) scan + a |keys|-row merge, never
    * O(corpus); at 100 TB the state table is the only thing the nightly
    * job reads back.
    */
  val qIncrementalAgg = Q(
    "q_incremental_agg",
    (s, d) => {
      def state(df: org.apache.spark.sql.DataFrame) =
        df.groupBy("lang").agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          max(col("n_chars")).as("max_chars"))
      val docs = documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
      val corpusState = state(docs.where(bucket("doc_id", 0L, 100L) < 90))
      val batchState = state(docs.where(bucket("doc_id", 0L, 100L) >= 90))
      corpusState.union(batchState) // two |keys|-sized state tables
        .groupBy("lang")
        .agg(
          sum(col("n_docs")).as("n_docs"),
          sum(col("total_chars")).as("total_chars"),
          max(col("max_chars")).as("max_chars"))
        .orderBy("lang")
    },
    Some("""SELECT lang, count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars,
                   max(n_chars) AS max_chars
            FROM documents GROUP BY lang ORDER BY lang""")
  )

  /** SEQUENCE-EXAMPLE ASSEMBLY — the op that turns an event log into
    * per-user time-ordered trajectories, the shape behavioral-cloning /
    * agent-trace training data ships in (one row per user, the action
    * sequence as a flat column plus span metadata).
    *
    * Determinism: the trajectory order is the total order (ts,
    * event_id) — collect_list alone is arrival-ordered and
    * NONDETERMINISTIC across partition scheduling, so the collected
    * structs are sort_array'd (struct ordering = lexicographic over
    * (ts, event_id), unique by construction) before the event types are
    * projected out and joined. DuckDB reproduces it with
    * `string_agg(... ORDER BY ts, event_id)`.
    *
    * Scale shape: ONE shuffle (groupBy user). Per-user state is the
    * user's own event list — bounded by per-user activity, not the
    * corpus; a pathological power-user would be capped upstream by
    * q_sample_per_key's deterministic reservoir (the documented
    * composition). No global sort, no window: assembly ∥-izes per key.
    */
  val qSequenceAssemble = Q(
    "q_sequence_assemble",
    (s, d) => {
      val evs = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      evs
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("n_events"),
          min(col("ts")).as("t_first"),
          max(col("ts")).as("t_last"),
          array_join(
            transform(
              sort_array(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
              x => x.getField("event_type")
            ),
            " "
          ).as("trajectory")
        )
        .orderBy("user_id")
    },
    Some("""SELECT user_id, count(*) AS n_events,
                   min(ts) AS t_first, max(ts) AS t_last,
                   string_agg(event_type, ' ' ORDER BY ts, event_id) AS trajectory
            FROM events GROUP BY user_id ORDER BY user_id""")
  )

  /** INCREMENTAL JOIN-VIEW MAINTENANCE — the join sibling of
    * [[qIncrementalAgg]]: a maintained view V = A ⋈ B absorbs a batch
    * by the delta-join law
    *   V' = V ∪ (ΔA ⋈ B_full) ∪ (A_old ⋈ ΔB)
    * (the second term deliberately joins ΔB against A_OLD, not A_full —
    * ΔA⋈ΔB already lives in the first term; using A_full would double
    * it — the classic IVM double-counting trap, which the hash oracle
    * would catch). Here A = orders, B = lineitem, the view is the
    * per-order join with revenue; the batch is the deterministic 10%
    * order-bucket. The oracle is the FULL join, so hash equality IS the
    * maintenance law — same discipline as q_incremental_agg.
    *
    * Scale: with V materialized, absorbing a batch costs two
    * Δ-proportional keyed joins (each shuffles |Δ| + its probe side's
    * matching partitions under co-partitioning/bucketing — q_join_bucketed's
    * layout makes the probe side shuffle-free), never corpus × corpus.
    * All three terms here are computed live to keep the query
    * self-contained; the UNION is the view commit.
    */
  val qIvmJoin = Q(
    "q_ivm_join",
    (s, d) => {
      val isBatch = bucket("o_orderkey", 77L, 10L) === 9
      val ordersAll = orders(s, d).select(col("o_orderkey"), col("o_orderpriority"))
      val aOld = ordersAll.where(!isBatch)
      val aDelta = ordersAll.where(isBatch)
      val li = lineitem(s, d).select(col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"))
      // the A delta is key-aligned (new orders ARE new keys); the B
      // delta is deliberately ROW-level (line-number parity), so both
      // cross terms are non-empty and the law is exercised in general
      // form — a join-key-aligned B split would make A_old⋈ΔB empty
      val bOldLn = li.where(pmod(col("l_linenumber"), lit(2)) === 0)
      val bDeltaLn = li.where(pmod(col("l_linenumber"), lit(2)) === 1)
      def j(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
        a.join(b.hint("shuffle_hash"), col("o_orderkey") === col("l_orderkey"))
          .select(col("o_orderkey"), col("o_orderpriority"), col("l_linenumber"),
            col("l_extendedprice"))
      val vOld = j(aOld, bOldLn)
      val d1 = j(aDelta, bOldLn.union(bDeltaLn))
      val d2 = j(aOld, bDeltaLn)
      vOld.union(d1).union(d2)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_extendedprice").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("double").as("revenue"))
        .orderBy("o_orderpriority")
    },
    Some("""SELECT o_orderpriority, count(*) AS n_rows,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
            GROUP BY o_orderpriority ORDER BY o_orderpriority""")
  )

  /** PER-GROUP FEATURE STANDARDIZATION — the z-score normalize pass
    * every ML feature pipeline runs before training: value → (value −
    * μ_g)/σ_g within its event_type group. Engine-parity discipline
    * for the MOMENTS (the float-sum hazard): Σx and Σx² accumulate as
    * EXACT decimals (the value product is one deterministic IEEE
    * multiply, its DECIMAL cast rounds identically in both engines —
    * the q_kmeans-proven parity), and μ, σ² = E[x²] − μ², σ, z are a
    * fixed chain of IEEE ops on those exact sums written token-for-
    * token identically in both dialects, then rounded to 6 digits.
    *
    * Shape: ONE map-side-combined moment aggregation to |groups| rows,
    * broadcast back onto the scan, per-row arithmetic — the two-pass
    * normalize at scan speed; nothing corpus-sized shuffles.
    */
  /** Per-event_type (g, mu, sigma) from exact-decimal moments — the
    * q_normalize stats side, shared with the streaming anomaly gate
    * (q_stream_anomaly joins a live stream against exactly this
    * profile).
    */
  def eventTypeStats(ev: DataFrame): DataFrame =
    ev.groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(28, 6))).as("sx"),
        sum((col("value") * col("value"))
          .cast(org.apache.spark.sql.types.DecimalType(38, 12))).as("sxx"))
      .select(col("event_type").as("g"),
        (col("sx").cast("double") / col("n")).as("mu"),
        sqrt(col("sxx").cast("double") / col("n") -
          (col("sx").cast("double") / col("n")) * (col("sx").cast("double") / col("n")))
          .as("sigma"))

  val qNormalize = Q(
    "q_normalize",
    (s, d) => {
      val stats = eventTypeStats(events(s, d))
      events(s, d)
        .join(broadcast(stats), col("event_type") === col("g"))
        .select(col("event_id"), col("event_type"), col("value"),
          round((col("value") - col("mu")) / col("sigma"), 6).as("z"))
        .orderBy("event_id")
    },
    Some("""WITH stats AS (
              SELECT event_type AS g,
                     CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) / count(*) AS mu,
                     sqrt(CAST(sum(CAST(value * value AS DECIMAL(38,12))) AS DOUBLE) / count(*)
                          - (CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) / count(*))
                            * (CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) / count(*))) AS sigma
              FROM events GROUP BY event_type)
            SELECT event_id, event_type, value,
                   round((value - mu) / sigma, 6) AS z
            FROM events JOIN stats ON event_type = g
            ORDER BY event_id""")
  )

  /** WINSORIZATION — outlier clipping at exact per-group percentiles
    * (the robust-scaling companion of [[qNormalize]]): value clamps
    * into [P05, P95] of its event_type group. Exact `percentile`
    * (linear interpolation — DuckDB `quantile_cont`, parity proven by
    * q_quantiles_exact) on the |groups|-row side, broadcast back, and
    * the clamp is branch-free least/greatest per row at scan speed.
    */
  val qWinsorize = Q(
    "q_winsorize",
    (s, d) => {
      val stats = events(s, d)
        .groupBy("event_type")
        .agg(expr("percentile(value, array(0.05, 0.95))").as("p"))
        .select(col("event_type").as("g"),
          element_at(col("p"), 1).as("lo"), element_at(col("p"), 2).as("hi"))
      // was_clipped derives from the ROUNDED quantities, never from a
      // raw double vs the raw interpolated percentile: the two engines'
      // quantile interpolations can differ by an ulp, and a data value
      // within that ulp of the boundary would flip a raw `value < lo`
      // (observed at sf1, row 4872 — 1e6 samples land one value on the
      // knife edge that 1e5 never hit). round(value,6) == clipped is
      // engine-deterministic by construction: both operands are already
      // hash-stable columns; a knife-edge row (|value − lo| < 5e-7)
      // counts as NOT clipped in both engines — the documented
      // boundary-tolerance trade, same spirit as q_dedup_embedding's
      // threshold-clearance rule.
      events(s, d)
        .join(broadcast(stats), col("event_type") === col("g"))
        .select(col("event_id"), col("event_type"),
          round(greatest(col("lo"), least(col("hi"), col("value"))), 6).as("clipped"),
          (round(col("value"), 6) =!=
            round(greatest(col("lo"), least(col("hi"), col("value"))), 6))
            .as("was_clipped"))
        .orderBy("event_id")
    },
    Some("""WITH stats AS (
              SELECT event_type AS g,
                     quantile_cont(value, 0.05) AS lo,
                     quantile_cont(value, 0.95) AS hi
              FROM events GROUP BY event_type)
            SELECT event_id, event_type,
                   round(greatest(lo, least(hi, value)), 6) AS clipped,
                   (round(value, 6) <> round(greatest(lo, least(hi, value)), 6)) AS was_clipped
            FROM events JOIN stats ON event_type = g
            ORDER BY event_id""")
  )

  /** PREFERENCE-PAIR MINING (r7) — the DPO/RLHF data-construction
    * primitive: per group (source), emit the (chosen, rejected) document
    * pair — best vs worst by a quality score — with the score margin.
    * Pair mining over model-scored candidates is exactly this shape with
    * `source` = prompt id and the score a reward-model output.
    *
    * Exact-arithmetic ranking: the quality score is integer
    * `(10^6 · n_stopwords) div n_tokens` (the q_quality_score ratio in
    * fixed-point), and argmax/argmin are ONE packed-BIGINT max/min per
    * group — `score·10^12 + doc_id` makes (score, doc_id) lexicographic
    * order a single integer order, so the survivor rule is total and
    * engine-independent (the q_dedup_survivor packing idiom).
    *
    * PRECONDITION (the packing idiom's id bound, r8): correctness
    * requires `0 ≤ doc_id < 10^12` — a larger id would bleed into the
    * score digits and silently mis-attribute chosen/rejected. The bound
    * is ENFORCED in the pack projection (`raise_error` on violation, a
    * loud abort, never a wrong pair), and the headroom is exact:
    * score ≤ 10^6, so pack ≤ 10^6·10^12 + 10^12 < 2^63. A corpus with
    * ≥ 10^12 docs re-keys (dense ids) or switches to a max-of-struct
    * aggregate. Spec: SamplingSpec "packed argmax survives doc_id ≥
    * 10^8 / aborts at the 10^12 guard".
    *
    * Scale: one map-side-combined groupBy to |sources| rows — the agg
    * carries two BIGINTs per group regardless of corpus size; no
    * window, no join, no explode. Groups with <2 docs can't form a
    * pair and are dropped by a post-agg HAVING.
    */
  private val stopSql =
    "size(filter(split(text, ' '), t -> t IN ('the','a','of','and')))"
  private val toksSql = "size(split(text, ' '))"
  private val stopSqlDuck =
    "CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the','a','of','and'))) AS BIGINT)"
  private val toksSqlDuck = "CAST(len(string_split(text, ' ')) AS BIGINT)"

  val qPreferencePairs = Q(
    "q_preference_pairs",
    (s, d) => {
      documents(s, d)
        .select(col("source"), col("doc_id"),
          expr(s"(1000000 * ${stopSql}) div ${toksSql}").as("score"))
        .withColumn("pack",
          when(col("doc_id").between(0L, 999999999999L),
            col("score") * lit(1000000000000L) + col("doc_id"))
            .otherwise(raise_error(
              concat(lit("q_preference_pairs: doc_id out of pack range [0, 10^12): "),
                col("doc_id").cast("string"))).cast("long")))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          max("pack").as("mx"), min("pack").as("mn"))
        .where(col("n_docs") >= 2)
        .selectExpr("source", "n_docs",
          "mx % 1000000000000 AS chosen_doc", "mx div 1000000000000 AS chosen_score",
          "mn % 1000000000000 AS rejected_doc", "mn div 1000000000000 AS rejected_score",
          "mx div 1000000000000 - mn div 1000000000000 AS margin")
        .orderBy("source")
    },
    Some(s"""WITH scored AS (
               SELECT source, doc_id,
                      (1000000 * ${stopSqlDuck}) // ${toksSqlDuck} AS score
               FROM documents),
             packed AS (
               SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                      max(score * 1000000000000 + doc_id) AS mx,
                      min(score * 1000000000000 + doc_id) AS mn
               FROM scored GROUP BY source HAVING count(*) >= 2)
             SELECT source, n_docs,
                    mx % 1000000000000 AS chosen_doc, mx // 1000000000000 AS chosen_score,
                    mn % 1000000000000 AS rejected_doc, mn // 1000000000000 AS rejected_score,
                    mx // 1000000000000 - mn // 1000000000000 AS margin
             FROM packed ORDER BY source""")
  )

  /** The replication weight of a document: its word count, capped at 8. */
  private[graft] def replicaWeight: Column =
    least(size(split(col("text"), " ")).cast("long"), lit(8L))

  /** The replication-min-hash priority over `doc_id` and the weight
    * column `w`: the minimum Knuth hash of the doc's w replicas. The
    * batch sample and its streaming twin both draw with this Column.
    */
  private[graft] def replicaPriority: Column =
    array_min(transform(sequence(lit(0L), col("w") - 1),
      r => (col("doc_id") * 8L + r) % 2147483647L * 2654435761L % 4294967296L))

  /** WEIGHT-PROPORTIONAL SAMPLING (r7) — documents drawn with
    * probability ∝ an integer weight (token count, capped at 8): the
    * training-mix primitive when "sample by tokens, not by documents"
    * is the requirement (a 10k-token doc should be 10× likelier in a
    * token-budgeted subsample than a 1k one). Classic replication
    * min-hash: conceptually replicate each doc w times, give every
    * replica an independent Knuth hash, and keep the k docs with the
    * SMALLEST minimum — a doc's priority is min of w i.i.d.-like draws,
    * so selection probability rises with w (exactly the bottom-k sketch
    * over a replicated stream). Deterministic: no rand(), the q_sample_
    * hash audit property holds (membership re-derivable from doc_id+w).
    *
    * Scale: the "replication" never materializes — priority is
    * `array_min` over a per-row generated sequence (fan-out ≤ 8 INSIDE
    * one projection), so the whole operator is a shuffle-free scan +
    * top-20 TakeOrderedAndProject funnel. Monotone coupling law
    * (raising w can only lower priority — min over a superset) is
    * spec-proven in SamplingSpec.
    */
  val qWeightedSample = Q(
    "q_weighted_sample",
    (s, d) =>
      documents(s, d)
        .select(col("doc_id"), col("lang"), replicaWeight.as("w"))
        .withColumn("priority", replicaPriority)
        .orderBy(col("priority"), col("doc_id"))
        .limit(20),
    Some("""SELECT doc_id, lang,
                   least(CAST(len(string_split(text,' ')) AS BIGINT), 8) AS w,
                   list_min(list_transform(
                     range(0, least(CAST(len(string_split(text,' ')) AS BIGINT), 8)),
                     r -> (doc_id * 8 + r) % 2147483647 * 2654435761 % 4294967296))
                     AS priority
            FROM documents
            ORDER BY priority, doc_id LIMIT 20""")
  )

  /** LENGTH-BUCKETED BATCHING (r8) — dynamic batching, the training-
    * efficiency op every sequence-model input pipeline runs: group
    * documents of similar length into fixed-size batches so padding-to-
    * max inside a batch wastes little compute (batching at random
    * wastes ~the length spread; batching within 64-token buckets
    * bounds waste by the bucket width). Deterministic assignment: docs
    * sort by doc_id WITHIN their 64-token length bucket, consecutive
    * runs of 8 form a batch; the output is the per-batch audit row —
    * size, max length, token sum, and the padded-waste the batch pays
    * (n·max − Σ), the number a capacity planner actually reads.
    *
    * Shape: ONE bucket-keyed window exchange carries the numbering and
    * the (bucket, batch_id) groupBy reuses that partitioning (subset
    * clustering — the q_scd2 exchange-reuse idiom), so the whole
    * operator is one shuffle + the output sort. Buckets are
    * data-parallel (no global numbering): at 100 TB each length bucket
    * batches independently wherever its rows hash.
    */
  val qLengthBatching = Q(
    "q_length_batching",
    (s, d) => {
      val w = Window.partitionBy("bucket").orderBy("doc_id")
      documents(s, d)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_toks"))
        .withColumn("bucket", expr("n_toks div 64").cast("int"))
        .withColumn("batch_id",
          floor((row_number().over(w) - lit(1)) / lit(8)).cast("int"))
        .groupBy("bucket", "batch_id")
        .agg(count(lit(1)).as("n_docs"),
          max("n_toks").as("max_toks"),
          sum("n_toks").as("sum_toks"),
          (count(lit(1)) * max("n_toks") - sum("n_toks")).as("padded_waste"))
        .orderBy("bucket", "batch_id")
    },
    Some("""WITH docs AS (
              SELECT doc_id, CAST(len(string_split(text,' ')) AS BIGINT) AS n_toks
              FROM documents),
            b AS (
              SELECT doc_id, n_toks, CAST(n_toks // 64 AS INTEGER) AS bucket
              FROM docs),
            r AS (
              SELECT bucket, n_toks,
                     CAST((row_number() OVER (PARTITION BY bucket ORDER BY doc_id) - 1) // 8
                          AS INTEGER) AS batch_id
              FROM b)
            SELECT bucket, batch_id,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   max(n_toks) AS max_toks,
                   CAST(sum(n_toks) AS BIGINT) AS sum_toks,
                   CAST(count(*) * max(n_toks) - sum(n_toks) AS BIGINT) AS padded_waste
            FROM r
            GROUP BY bucket, batch_id
            ORDER BY bucket, batch_id""")
  )

  /** The declared target mixture of [[qImportanceSample]], in
    * PER-MILLE integer rationals so the keep test and the weight stay
    * exact — ONE Scala value generates both dialects' CASE expression
    * (the q_zorder_key one-code-path rule). Sums to 1000.
    */
  private val targetMix: Seq[(String, Long)] =
    Seq("en" -> 400L, "zh" -> 250L, "de" -> 150L, "es" -> 100L, "fr" -> 100L)

  private def targetCaseSql(langCol: String): String =
    targetMix.map { case (l, t) => s"WHEN $langCol = '$l' THEN $t" }
      .mkString("CASE ", " ", " ELSE 0 END")

  /** IMPORTANCE-SAMPLED MIXTURE TARGETING (r9) — the general form the
    * α-family ([[qMixBalance]] α=1, [[qMixTemperature]] α=½) special-
    * cases: resample the corpus toward a DECLARED target mixture
    * (en 40% / zh 25% / de 15% / es 10% / fr 10% — the DoReMi-style
    * domain-weights handoff: upstream optimization produces weights,
    * THIS operator applies them to 100 TB), downsampling over-
    * represented languages by deterministic hash and carrying an
    * IMPORTANCE WEIGHT ≥ 1 for under-represented ones a filter cannot
    * upsample — the loss-side multiplier that makes the effective
    * mixture hit the target exactly.
    *
    * Exactness: keep iff `h · n_lang < 1000 · t‰ · N` — pure BIGINT
    * cross-multiplication (h < 10⁶, n_lang ≤ 10¹², t‰·N ≤ 4·10¹⁷ — all
    * < 2⁶³); the weight is greatest(1, t‰·N / (1000·n_lang)): ONE IEEE
    * division of two exact BIGINTs, round(,6).
    *
    * Scale shape (the q_mix_balance contract): one |langs|-row
    * aggregate + the 1-row total, both broadcast — they grow with the
    * GROUP universe, never the corpus — then a shuffle-free per-row
    * integer compare at scan speed. At 100 TB the mixture retarget is
    * exactly one corpus pass.
    */
  val qImportanceSample = Q(
    "q_importance_sample",
    (s, d) => {
      val c = documents(s, d).groupBy("lang").agg(count(lit(1)).as("n_lang"))
      val n = documents(s, d).agg(count(lit(1)).as("n_total"))
      documents(s, d)
        .select(col("doc_id"), col("lang"))
        .withColumn("t_pm", expr(targetCaseSql("lang")))
        .join(broadcast(c), "lang")
        .crossJoin(broadcast(n))
        .where(bucket("doc_id", 424243L, 1000000L) * col("n_lang")
          < lit(1000L) * col("t_pm") * col("n_total"))
        .select(col("doc_id"), col("lang"),
          round(greatest(lit(1.0),
            (col("t_pm") * col("n_total")).cast("double") /
              (lit(1000L) * col("n_lang")).cast("double")), 6).as("weight"))
        .orderBy("doc_id")
    },
    Some(s"""WITH c AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang),
             n AS (SELECT count(*) AS n_total FROM documents),
             t AS (SELECT d.doc_id, d.lang, n_lang, n_total,
                          ${targetCaseSql("d.lang")} AS t_pm
                   FROM documents d JOIN c USING (lang), n)
             SELECT doc_id, lang,
                    round(greatest(1.0,
                      CAST(t_pm * n_total AS DOUBLE) / CAST(1000 * n_lang AS DOUBLE)),
                      6) AS weight
             FROM t
             WHERE ${bucketSql("doc_id", 424243L, 1000000L)} * n_lang
                   < 1000 * t_pm * n_total
             ORDER BY doc_id""")
  )

  /** GROUP-RELATIVE ADVANTAGE (r9) — the GRPO/RLOO batch-preparation
    * step of an RLHF pipeline: rewards are comparable only WITHIN a
    * prompt's completion group, so each reward is normalized against
    * its own group's mean and spread — advantage = (r − μ_g)/σ_g —
    * plus the within-group preference rank. Modeled on events: prompt
    * = user_id, completion = event_id, reward = value.
    *
    * Engine-parity discipline (the q_corr float-sum rule): n, Σr, Σr²
    * accumulate as EXACT decimals inside full-frame window aggregates
    * (each r² is one deterministic IEEE multiply whose DECIMAL cast
    * rounds identically in both engines), every moment is then cast to
    * double ONCE, and the advantage is the fixed IEEE chain
    * `(n·r − Σr) / sqrt(n·Σr² − (Σr)²)` written token-identically in
    * both dialects, rounded once. The expression IS the population
    * z-score exactly — numerator n·(r − μ), denominator √(n²·σ²_pop) =
    * n·σ_pop, so the n's cancel and no per-group scale remains:
    * advantages are comparable ACROSS groups, not just within one.
    * Zero-variance groups are dropped by the same deterministic chain
    * (`varn > 0` on bit-identical doubles), so the boundary is
    * engine-deterministic.
    *
    * Scale shape: ONE prompt-keyed exchange carries BOTH full-frame
    * moment windows AND the rank window (same partitioning, Spark
    * evaluates them over one sort) — the whole normalization is one
    * data-scale shuffle + a per-row projection; no join, no broadcast,
    * state per key = that prompt's completions.
    */
  val qGrpoAdvantage = Q(
    "q_grpo_advantage",
    (s, d) => {
      val g = Window.partitionBy("user_id")
      val rk = Window.partitionBy("user_id")
        .orderBy(col("value").desc, col("event_id"))
      events(s, d)
        .select(col("event_id"), col("user_id"), col("value"))
        .withColumn("nd", count(lit(1)).over(g).cast("double"))
        .withColumn("sr",
          sum(col("value").cast("decimal(28,6)")).over(g).cast("double"))
        .withColumn("srr",
          sum((col("value") * col("value")).cast("decimal(38,6)")).over(g)
            .cast("double"))
        .withColumn("pref_rank", row_number().over(rk))
        .withColumn("varn", col("nd") * col("srr") - col("sr") * col("sr"))
        .where(col("varn") > 0)
        .select(col("event_id"), col("user_id"),
          round((col("nd") * col("value") - col("sr")) / sqrt(col("varn")), 6)
            .as("advantage"),
          col("pref_rank"))
        .orderBy("event_id")
    },
    Some("""WITH m AS (
              SELECT event_id, user_id, value,
                     CAST(count(*) OVER (PARTITION BY user_id) AS DOUBLE) AS nd,
                     CAST(sum(CAST(value AS DECIMAL(28,6)))
                          OVER (PARTITION BY user_id) AS DOUBLE) AS sr,
                     CAST(sum(CAST(value * value AS DECIMAL(38,6)))
                          OVER (PARTITION BY user_id) AS DOUBLE) AS srr,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY value DESC, event_id) AS pref_rank
              FROM events),
            v AS (
              SELECT *, nd * srr - sr * sr AS varn FROM m)
            SELECT event_id, user_id,
                   round((nd * value - sr) / sqrt(varn), 6) AS advantage,
                   CAST(pref_rank AS INTEGER) AS pref_rank
            FROM v
            WHERE varn > 0
            ORDER BY event_id""")
  )

  /** CURRICULUM ORDERING (r9) — the data-ordering stage curriculum
    * learning needs at corpus scale: score every document's DIFFICULTY
    * as the total rarity of its surface text (Σ over its distinct
    * 3-shingles of `N div df` — common boilerplate ≈ |docs|/df ≈ 1 per
    * shingle, a shingle seen once ≈ N; all exact BIGINTs), then assign
    * the 4 curriculum phases easy→hard with the [[qNtile]] two-pass
    * closed-form tile over (rarity ASC, doc_id ASC) — NO global
    * one-task window anywhere — and emit the exact global curriculum
    * rank as the training order key.
    *
    * Scale shape: shingle df is one map-side-combined aggregate whose
    * partitioning the rarity join REUSES (both keyed on the shingle);
    * the per-doc rarity sum is one doc-keyed aggregate; phase/rank is
    * the TeraSort-shaped two-pass numbering (range exchange +
    * |partitions|-row broadcast offsets). Nothing corpus-sized is
    * broadcast, windowed, or single-tasked at any scale.
    */
  /** The corpus-scale stage of [[qCurriculum]], un-materialized — the
    * QueriesPlanSpec pin surface (shingle df partitioning reused by the
    * rarity join; nothing corpus-sized broadcasts).
    */
  private[graft] def curriculumRarity(
      s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val sh = fanOut(documents(s, d))
      .select(col("doc_id"),
        explode(graft.functions.TextHash.shingles(col("text"), 3)).as("sh"))
    val df = sh.groupBy("sh").agg(count(lit(1)).as("df"))
    val n = documents(s, d).agg(count(lit(1)).as("n_docs"))
    sh.hint("shuffle_hash").join(df, "sh")
      .crossJoin(broadcast(n))
      .groupBy("doc_id")
      .agg(sum(expr("n_docs div df")).as("rarity"))
  }

  val qCurriculum = Q(
    "q_curriculum",
    (s, d) => {
      val parts = 32
      // checkpoint the |docs|-row rarity relation: the two-pass rank
      // references it twice (rows + per-partition counts) — without
      // this the shingle explode + df join would evaluate twice
      val rar = Materialize(curriculumRarity(s, d))
      val local = rar
        .repartitionByRange(parts, col("rarity").asc, col("doc_id").asc)
        .sortWithinPartitions(col("rarity").asc, col("doc_id").asc)
        .select(col("doc_id"), col("rarity"), monotonically_increasing_id().as("mid"))
        .select(col("doc_id"), col("rarity"),
          expr("mid div 8589934592").as("pid"),
          (col("mid") % lit(8589934592L)).as("idx"))
      val counts = local.groupBy("pid").agg(count(lit(1)).as("cnt"))
      val wOff = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
      val wAll = Window.orderBy("pid")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      // ≤|partitions| rows — the documented small-side window exception
      val offsets = counts
        .withColumn("offset", coalesce(sum("cnt").over(wOff), lit(0L)))
        .withColumn("n_total", sum("cnt").over(wAll))
        .select("pid", "offset", "n_total")
      local
        .join(broadcast(offsets), "pid")
        .withColumn("curriculum_rank", col("offset") + col("idx") + lit(1L))
        .withColumn("small", expr("n_total div 4"))
        .withColumn("rem", col("n_total") % lit(4L))
        .withColumn("phase",
          when(col("curriculum_rank") <= col("rem") * (col("small") + lit(1L)),
            expr("(curriculum_rank - 1) div (small + 1) + 1"))
            .otherwise(col("rem") +
              expr("(curriculum_rank - rem * (small + 1) - 1) div small") + lit(1L))
            .cast("int"))
        .select(col("doc_id"), col("rarity"), col("phase"), col("curriculum_rank"))
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (
              SELECT doc_id, string_split(text, ' ') AS w
              FROM documents WHERE len(string_split(text, ' ')) >= 3),
            sh AS (
              SELECT DISTINCT doc_id,
                     unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                           for i in range(1, len(w) - 1)])) AS s
              FROM toks),
            df AS (SELECT s, count(*) AS df FROM sh GROUP BY s),
            n AS (SELECT count(*) AS n_docs FROM documents),
            rar AS (
              SELECT sh.doc_id, CAST(sum(n_docs // df) AS BIGINT) AS rarity
              FROM sh JOIN df USING (s), n
              GROUP BY sh.doc_id),
            ranked AS (
              SELECT doc_id, rarity,
                     CAST(ntile(4) OVER (ORDER BY rarity ASC, doc_id ASC)
                          AS INTEGER) AS phase,
                     row_number() OVER (ORDER BY rarity ASC, doc_id ASC)
                       AS curriculum_rank
              FROM rar)
            SELECT doc_id, rarity, phase, curriculum_rank
            FROM ranked ORDER BY doc_id""")
  )

  /** DSIR — Data Selection via Importance Resampling (Xie et al. 2023):
    * select raw pre-training data whose HASHED-N-GRAM distribution
    * matches a target corpus, the standard scalable alternative to a
    * trained quality classifier. Features are word uni+bigrams hashed
    * into a FIXED B = 4096-bucket space ([[Quality.qFeatureHash]]'s
    * hashing trick and its cross-engine md5 bucket — 16 hash bits over
    * 12 bucket bits divides EXACTLY, so the bucket map is uniform and
    * bit-identical in both engines); bag-of-buckets models are fitted
    * to the target (here `lang = 'en'` — match an English target out
    * of multilingual raw web data) and to the raw corpus, and each
    * doc's importance weight is  log w(x) = Σ_g [log p_t(b(g)) −
    * log p_r(b(g))].
    *
    * Exact-arithmetic form (the Q discipline): Laplace-smoothed
    * probabilities quantize to the power of two below — p̂(b) =
    * (c_b+1)/(tot+B) becomes the integer bit pair ([[TextOps.flog2]]
    * (c_b+1), flog2(tot+B)) — so the weight is the pure BIGINT
    *   w_bits = Σ_g [flog2(ct+1) − flog2(cr+1)]
    *            + n_grams·[flog2(R+B) − flog2(T+B)]
    * — order-free integer sums, hash-exact on any engine/partitioning.
    * Resampling composes downstream (q_weighted_sample's exponential-
    * clock idiom over 2^w_bits-proportional weights); the declared
    * query emits the per-doc weights, the part with data-scale shape.
    *
    * Scale shape: the model fit is ONE map-side-combined aggregate to
    * a ≤ 4096-row bucket table (target and raw counts as two columns
    * of the SAME aggregate — one corpus pass, not two), totals are a
    * 2-value agg over THAT table (never a second corpus pass); scoring
    * joins the gram stream to the bucket table via BROADCAST (the
    * hashing trick's whole point: the model is corpus-size-independent,
    * exactly the bounded build side the sf10 OOM rule allows) + one
    * per-doc aggregate — at 100 TB: two corpus scans, one doc-keyed
    * shuffle, nothing driver-side.
    */
  val qDsir = Q(
    "q_dsir",
    (s, d) => {
      val B = 4096
      val toks = Tables.fanOut(documents(s, d))
        .select(col("doc_id"), col("lang"), split(col("text"), " ").as("w"))
      val grams = toks
        .select(col("doc_id"), col("lang"),
          explode(concat(col("w"),
            when(size(col("w")) >= 2, expr(TextOps.wordBigramsExpr))
              .otherwise(array().cast("array<string>")))).as("g"))
        .select(col("doc_id"), col("lang"),
          (conv(substring(md5(col("g")), 1, 4), 16, 10).cast("long") % B).as("b"))
      val bkt = grams.groupBy("b").agg(
        count(lit(1)).as("cr"),
        count(when(col("lang") === "en", 1)).as("ct"))
      val tot = bkt.agg(sum("cr").as("r_tot"), sum("ct").as("t_tot"))
      import TextOps.flog2
      grams
        .join(broadcast(bkt), Seq("b"))
        .groupBy("doc_id", "lang")
        .agg(
          count(lit(1)).as("n_grams"),
          sum((flog2(col("ct") + 1) - flog2(col("cr") + 1)).cast("long")).as("s_bits"))
        .crossJoin(broadcast(tot))
        .select(col("doc_id"), col("lang"), col("n_grams"),
          (col("s_bits") + col("n_grams") *
            (flog2(col("r_tot") + B) - flog2(col("t_tot") + B)).cast("long")).as("w_bits"))
        .orderBy("doc_id")
    },
    Some(s"""WITH b AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
             g AS (SELECT doc_id, lang,
                          unnest(w || ${TextOps.wordBigramsSql}) AS g
                   FROM b),
             gb AS (SELECT doc_id, lang,
                           ('0x' || substr(md5(g), 1, 4))::BIGINT % 4096 AS bk
                    FROM g),
             bkt AS (SELECT bk, count(*) AS cr,
                            count(*) FILTER (WHERE lang = 'en') AS ct
                     FROM gb GROUP BY bk),
             tot AS (SELECT CAST(sum(cr) AS BIGINT) AS r_tot,
                            CAST(sum(ct) AS BIGINT) AS t_tot
                     FROM bkt)
             SELECT gb.doc_id, gb.lang,
                    count(*) AS n_grams,
                    CAST(CAST(sum(${TextOps.flog2Sql("bkt.ct + 1")}
                                  - ${TextOps.flog2Sql("bkt.cr + 1")}) AS BIGINT)
                         + count(*) * (${TextOps.flog2Sql("r_tot + 4096")}
                                       - ${TextOps.flog2Sql("t_tot + 4096")})
                         AS BIGINT) AS w_bits
             FROM gb JOIN bkt USING (bk), tot
             GROUP BY gb.doc_id, gb.lang, r_tot, t_tot
             ORDER BY gb.doc_id""")
  )

  val all: Seq[Q] =
    Seq(qSampleHash, qSampleStratified, qSamplePerKey, qInterleave, qEpochShuffle,
      qNegativeSampling,
      qPivot, qUnpivot, qPack, qHeavyHitters, qAnomaly, qNtile, qZorderKey,
      qGlobalRownum, qMixBalance, qMixTemperature, qIncrementalAgg,
      qSequenceAssemble, qIvmJoin, qHilbertKey, qNormalize, qWinsorize,
      qPreferencePairs, qWeightedSample, qLengthBatching,
      qImportanceSample, qGrpoAdvantage, qCurriculum, qDsir)
}
