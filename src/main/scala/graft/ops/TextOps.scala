package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

/** Text-analysis operators for training-data pipelines (SURVEY §2.C E12 +
  * the driver-mandated text family): token counting, per-language stats,
  * top terms, quality scoring, language-ID, fingerprinting.
  *
  * All implemented with native (codegen'd) functions — split/explode/
  * regexp — no UDFs in the hot path. Everything is a single scan +
  * one shuffle for the grouped variants; at 100 TB the explode fan-out
  * (≈ tokens-per-doc ×) is bounded and map-side combine keeps the
  * shuffle at |vocab × groups|.
  */
object TextOps {
  import Tables._

  /** The source every documents-derived layout here is keyed on. */
  private def docsSrc(d: String): Seq[String] = Seq(s"$d/documents.parquet")

  /** E12: per-language corpus stats in one aggregate. */
  val qTextStats = Q(
    "q_text_stats",
    (s, d) =>
      documents(s, d)
        .select(
          col("lang"),
          length(col("text")).as("chars"),
          size(split(col("text"), " ")).as("toks")
        )
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("chars")).as("total_chars"),
          sum(col("toks")).as("total_tokens"),
          max(col("toks")).as("max_tokens")
        )
        .orderBy("lang"),
    Some("""SELECT lang, count(*) AS n_docs,
                   CAST(sum(length(text)) AS BIGINT) AS total_chars,
                   CAST(sum(len(string_split(text,' '))) AS BIGINT) AS total_tokens,
                   CAST(max(len(string_split(text,' '))) AS INTEGER) AS max_tokens
            FROM documents GROUP BY lang ORDER BY lang""")
  )

  /** E12: top-5 terms per language by frequency (tie → term asc).
    * explode → two-phase hash agg → per-group top-k window.
    */
  val qTopTerms = Q(
    "q_top_terms",
    (s, d) => {
      val w = Window.partitionBy("lang").orderBy(col("cnt").desc, col("term").asc)
      documents(s, d)
        .select(col("lang"), explode(split(col("text"), " ")).as("term"))
        .groupBy("lang", "term")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 5)
        .select("lang", "term", "cnt", "rn")
        .orderBy("lang", "rn")
    },
    Some("""SELECT lang, term, cnt, CAST(rn AS INTEGER) AS rn FROM (
              SELECT lang, term, cnt,
                     row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, term ASC) AS rn
              FROM (SELECT lang, term, count(*) AS cnt
                    FROM (SELECT lang, unnest(string_split(text,' ')) AS term FROM documents) tok
                    GROUP BY lang, term) c
            ) t WHERE rn <= 5 ORDER BY lang, rn""")
  )

  /** Token counting with a regex tokenizer (BPE-ish word/number pieces),
    * alongside whitespace tokens — the two standard cheap estimators.
    */
  val qTokenCount = Q(
    "q_token_count",
    (s, d) =>
      documents(s, d)
        .select(
          col("doc_id"),
          size(split(col("text"), " ")).as("ws_tokens"),
          size(expr("regexp_extract_all(text, '[a-z0-9]+', 0)")).as("re_tokens"),
          length(col("text")).as("n_chars_m")
        )
        .orderBy("doc_id"),
    Some("""SELECT doc_id,
                   CAST(len(string_split(text,' ')) AS INTEGER) AS ws_tokens,
                   CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS INTEGER) AS re_tokens,
                   CAST(length(text) AS INTEGER) AS n_chars_m
            FROM documents ORDER BY doc_id""")
  )

  /** Quality scoring: length + mean-word-length + stopword-ratio
    * heuristics. Ratios are exact-int / exact-int single divisions →
    * bitwise stable across engines.
    */
  val qQualityScore = Q(
    "q_quality_score",
    (s, d) => {
      val toks = size(split(col("text"), " ")).cast("long")
      val stop = size(
        filter(
          split(col("text"), " "),
          t => t === "the" || t === "a" || t === "of" || t === "and"
        )
      ).cast("long")
      documents(s, d)
        .select(
          col("doc_id"),
          toks.as("n_tokens"),
          stop.as("n_stopwords"),
          (stop.cast("double") / toks).as("stopword_ratio"),
          (length(col("text")).cast("double") / toks).as("mean_token_len")
        )
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
                   CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
                   CAST(len(list_filter(string_split(text,' '),
                        t -> t IN ('the','a','of','and'))) AS BIGINT) AS n_stopwords,
                   CAST(len(list_filter(string_split(text,' '),
                        t -> t IN ('the','a','of','and'))) AS DOUBLE)
                     / len(string_split(text,' ')) AS stopword_ratio,
                   CAST(length(text) AS DOUBLE) / len(string_split(text,' ')) AS mean_token_len
            FROM documents ORDER BY doc_id""")
  )

  /** Language-ID heuristic: score = stopword-profile hits per candidate
    * language, argmax with lexicographic tiebreak. (The synthetic corpus
    * shares one vocabulary, so predictions are degenerate — the operator
    * semantics are what's under test; on real data the profiles differ.)
    */
  private val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "value"),
    "de" -> Seq("der", "die", "und", "table", "window"),
    "es" -> Seq("el", "la", "de", "query", "stream"),
    "fr" -> Seq("le", "la", "et", "sort", "merge"),
    "zh" -> Seq("zh1", "zh2", "zh3", "batch", "join")
  )

  val qLangId = Q(
    "q_lang_id",
    (s, d) => {
      val words = array_distinct(split(col("text"), " "))
      val scoreCols = langProfiles.map { case (l, ws) =>
        size(array_intersect(words, array(ws.map(lit): _*))).as(s"score_$l")
      }
      val scored = documents(s, d)
        .select(Seq(col("doc_id"), col("lang")) ++ scoreCols: _*)
      // argmax with lexicographic-ascending tiebreak: least() over
      // (-score, lang) structs compares fields in order.
      val best = least(
        langProfiles.map { case (l, _) =>
          struct((-col(s"score_$l")).as("ns"), lit(l).as("l"))
        }: _*
      )
      scored
        .withColumn("pred_lang", best.getField("l"))
        .groupBy("lang", "pred_lang")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("lang", "pred_lang")
    },
    // The struct-least argmax IS ANSI-expressible: take the greatest
    // score, then CASE through the languages in lexicographic order —
    // the first hit is exactly least((-score, lang))'s tiebreak.
    Some {
      def profile(ws: Seq[String]) = ws.map(w => s"'$w'").mkString("[", ",", "]")
      val scores = langProfiles.map { case (l, ws) =>
        s"len(list_intersect(list_distinct(string_split(text,' ')), ${profile(ws)})) AS score_$l"
      }
      val gm = langProfiles.map(p => s"score_${p._1}").mkString("greatest(", ", ", ")")
      val arms = langProfiles.map(_._1).sorted.map(l => s"WHEN score_$l = gm THEN '$l'")
      s"""WITH scored AS (SELECT lang, ${scores.mkString(", ")} FROM documents),
          g AS (SELECT lang, $gm AS gm, * FROM scored),
          pred AS (SELECT lang, CASE ${arms.mkString(" ")} END AS pred_lang FROM g)
          SELECT lang, pred_lang, count(*) AS n_docs
          FROM pred GROUP BY lang, pred_lang ORDER BY lang, pred_lang"""
    }
  )

  /** Document fingerprinting: md5 content fingerprint (oracle-able) —
    * the rolling-hash variant lives in [[graft.functions.TextHash]] and
    * is unit-tested for determinism instead (not ANSI-SQL-expressible).
    */
  val qFingerprint = Q(
    "q_fingerprint",
    (s, d) =>
      documents(s, d)
        .select(col("doc_id"), md5(col("text")).as("fp"))
        .orderBy("doc_id"),
    Some("SELECT doc_id, md5(text) AS fp FROM documents ORDER BY doc_id")
  )

  /** Deterministic train/val/test split assignment — the staple
    * training-data operation: every row lands in a stable split that any
    * re-run, any engine, and any subset of the corpus reproduces
    * (re-shuffling data between runs silently corrupts eval sets). The
    * bucket is a Knuth multiplicative hash on the id in EXACT integer
    * arithmetic (no rand(), no engine hash function — DuckDB computes
    * the identical value), 90/5/5 by bucket range. At 100 TB this is a
    * pure per-row projection: no shuffle, no state, prunes to the id
    * column.
    */
  val qSplitAssign = Q(
    "q_split_assign",
    (s, d) =>
      documents(s, d)
        .select(
          col("doc_id"),
          // reduce mod the Mersenne prime 2^31−1 BEFORE the Knuth
          // multiply: the product then tops out at ~5.7·10^18 < 2^63−1,
          // so the arithmetic is exact for EVERY BIGINT id on every
          // engine — doc_id·K directly would overflow (ANSI error) past
          // doc_id ≈ 3.5·10^9, i.e. exactly at corpus scale
          pmod(pmod(col("doc_id"), lit(2147483647L)) * lit(2654435761L), lit(4294967296L))
            .mod(lit(100L)).as("bucket")
        )
        .withColumn(
          "split",
          when(col("bucket") < 90, "train").when(col("bucket") < 95, "val").otherwise("test")
        )
        .orderBy("doc_id"),
    Some("""SELECT doc_id,
                   (doc_id % 2147483647 * 2654435761) % 4294967296 % 100 AS bucket,
                   CASE WHEN (doc_id % 2147483647 * 2654435761) % 4294967296 % 100 < 90 THEN 'train'
                        WHEN (doc_id % 2147483647 * 2654435761) % 4294967296 % 100 < 95 THEN 'val'
                        ELSE 'test' END AS split
            FROM documents ORDER BY doc_id""")
  )

  /** TF-IDF top-3 terms per document. Exactness discipline: idf is the
    * LINEAR ratio N/df, not ln(N/df) — ln is not correctly-rounded by
    * IEEE (unlike sqrt) so its bits can differ across engines; tf·N/df
    * is one IEEE division on exact integers and ranks identically to
    * tf·ln(N/df) within a document whenever df differs (monotone in
    * 1/df for fixed tf — top-k by the linear form is the classic
    * "tf-idf without the log damping" variant, documented).
    * Shape at 100 TB: explode → two hash aggs (tf on (doc,term), df on
    * term) → shuffle join on term → per-doc top-3 via WindowGroupLimit.
    */
  val qTfidf = Q(
    "q_tfidf",
    (s, d) => {
      val toks = documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .where(length(col("term")) > 0)
      val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val df = toks.select("doc_id", "term").distinct()
        .groupBy("term").agg(count(lit(1)).as("df"))
      // Corpus size N as a broadcast 1-row side, not an eager count():
      // the whole query stays one lazy plan (no driver action at build
      // time, no second scheduled job for a scalar).
      val n = documents(s, d).agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("term").asc)
      tf.join(df.hint("shuffle_hash"), "term") // df is vocab-sized but grows with the corpus
        .crossJoin(broadcast(n))
        .withColumn("score", (col("tf") * col("n")).cast("double") / col("df"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("doc_id"), col("term"), col("tf"), col("df"), round(col("score"), 6).as("score"))
        .orderBy("doc_id", "term")
    },
    Some("""WITH toks AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
            toks2 AS (SELECT doc_id, term FROM toks WHERE length(term) > 0),
            tf AS (SELECT doc_id, term, count(*) AS tf FROM toks2 GROUP BY doc_id, term),
            df AS (SELECT term, count(*) AS df FROM (SELECT DISTINCT doc_id, term FROM toks2) GROUP BY term),
            n AS (SELECT count(*) AS n FROM documents)
            SELECT doc_id, term, tf, df, round(CAST(tf * n AS DOUBLE) / df, 6) AS score
            FROM (SELECT tf.doc_id, tf.term, tf.tf, df.df, n.n,
                         row_number() OVER (PARTITION BY tf.doc_id
                                            ORDER BY CAST(tf.tf * n.n AS DOUBLE) / df.df DESC,
                                                     tf.term ASC) AS rn
                  FROM tf JOIN df ON tf.term = df.term, n) t
            WHERE rn <= 3
            ORDER BY doc_id, term""")
  )

  /** Language-model familiarity filter — the CCNet idea (Wenzek et al.
    * 2020: rank documents by an n-gram LM's perplexity over the target
    * corpus) in the exact-arithmetic form this engine's oracle
    * discipline demands: instead of Σ ln p(w|prev) (transcendental →
    * cross-engine bit drift, the qTfidf ln problem), score each doc by
    * its bigrams' TRAIN-SPLIT frequency — `train_hits/n_bigrams` (avg
    * familiarity, one IEEE division of exact BIGINTs) and `n_oov`
    * (bigrams never seen in train — the rare-event mass that dominates
    * perplexity). Ranks the same direction as low-perplexity for a
    * fixed length; both engines agree bit-for-bit.
    *
    * The "model" is the train split's own bigram table (split by the
    * q_split_assign hash, buckets < 90) — training and inference are
    * the same job, the corpus-absorbs-a-batch idiom.
    *
    * Scale shape: bigram occurrences are hashed to 8 bytes map-side
    * (the gram string never shuffles); the train table is ONE hash
    * aggregate with map-side combine (a hot bigram — "of the" at
    * 10⁹ occurrences — is one row after partial agg); scoring is one
    * `shuffle_hash` left join on the hash + one per-doc aggregate.
    * Nothing broadcasts, nothing is driver-side; both streams shuffle
    * (h) then (doc_id) — the q_substring_dedup key discipline.
    */
  val qLmScore = Q(
    "q_lm_score",
    (s, d) => {
      val bucket = expr(Sampling.bucketSql("doc_id", 0L, 100L))
      val toks = Tables.fanOut(documents(s, d))
        .select(col("doc_id"), bucket.as("bucket"), split(col("text"), " ").as("w"))
        .withColumn("n", size(col("w")))
      val bigrams = toks
        .where(col("n") >= 2)
        .select(col("doc_id"), col("bucket"), col("w"),
          explode(sequence(lit(0), col("n") - 2)).as("i"))
        .select(col("doc_id"), col("bucket"),
          xxhash64(array_join(slice(col("w"), col("i") + 1, lit(2)), " ")).as("h"))
      val trainCounts = bigrams.where(col("bucket") < 90)
        .groupBy("h").agg(count(lit(1)).as("cnt"))
      val scored = bigrams
        .join(trainCounts.hint("shuffle_hash"), Seq("h"), "left")
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_bigrams"),
          count(when(col("cnt").isNull, 1)).as("n_oov"),
          sum(coalesce(col("cnt"), lit(0L))).as("train_hits"))
      documents(s, d)
        .select(col("doc_id"))
        .join(scored.hint("shuffle_hash"), Seq("doc_id"), "left")
        .select(
          col("doc_id"),
          coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
          coalesce(col("n_oov"), lit(0L)).as("n_oov"),
          coalesce(col("train_hits"), lit(0L)).as("train_hits"))
        .withColumn("familiarity",
          when(col("n_bigrams") === 0, lit(0.0))
            .otherwise(col("train_hits").cast("double") / col("n_bigrams")))
        .orderBy("doc_id")
    },
    Some(s"""WITH b AS (SELECT doc_id,
                               ${Sampling.bucketSql("doc_id", 0L, 100L)} AS bucket,
                               string_split(text, ' ') AS w
                        FROM documents),
             bg0 AS (SELECT doc_id, bucket, unnest(range(1, len(w))) AS i, w FROM b),
             bg AS (SELECT doc_id, bucket, w[i] || ' ' || w[i+1] AS g FROM bg0),
             tc AS (SELECT g, count(*) AS cnt FROM bg WHERE bucket < 90 GROUP BY g),
             sc AS (SELECT bg.doc_id, count(*) AS n_bigrams,
                           count(*) FILTER (WHERE tc.g IS NULL) AS n_oov,
                           CAST(coalesce(sum(tc.cnt), 0) AS BIGINT) AS train_hits
                    FROM bg LEFT JOIN tc ON bg.g = tc.g
                    GROUP BY bg.doc_id)
             SELECT d.doc_id,
                    coalesce(sc.n_bigrams, 0) AS n_bigrams,
                    coalesce(sc.n_oov, 0) AS n_oov,
                    coalesce(sc.train_hits, 0) AS train_hits,
                    CASE WHEN coalesce(sc.n_bigrams, 0) = 0 THEN 0.0
                         ELSE CAST(sc.train_hits AS DOUBLE) / sc.n_bigrams END AS familiarity
             FROM documents d LEFT JOIN sc USING (doc_id)
             ORDER BY d.doc_id""")
  )

  /** Word-bigram construction over a token-array column named `w` —
    * ONE code path for the Spark expression and its DuckDB twin, so
    * the gram tokenization contract stays token-identical across the
    * whole metric family (qBleu / qBleuMulti / qDistinctN /
    * Sampling.qDsir): oracle hash-equality rides on these never
    * drifting independently (the flog2/flog2Sql pairing rule).
    */
  private[ops] val wordBigramsExpr: String =
    "transform(sequence(1, size(w) - 1)," +
      " i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"
  private[ops] val wordBigramsSql: String =
    "[w[i] || ' ' || w[i+1] for i in range(1, len(w))]"

  /** floor(log2(c)) of a positive BIGINT, computed EXACTLY in both
    * engines as `length(bin(c)) - 1` — the binary digit count, an
    * integer string operation with no float anywhere. A libm
    * `floor(log2(c))` would be wrong at scale: log2(2^k − 1) rounds UP
    * to k in double precision once k ≳ 48, flipping the floor at
    * exactly the counts a 100 TB corpus produces. Shared by
    * [[qLmBackoff]] and Sampling.qDsir (token-identical SQL emitted
    * for the oracle) so the quantization can never drift between the
    * two power-of-two-probability queries.
    */
  private[ops] def flog2(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    length(bin(c)) - 1
  private[ops] def flog2Sql(c: String): String = s"(length(bin($c)) - 1)"

  /** STUPID BACKOFF LM SCORING (Brants et al. 2007, "Large Language
    * Models in Machine Translation" — the LM *designed* for MapReduce
    * scale: no discounting, no normalization pass, scores directly
    * from raw count tables). Each bigram position scores
    *   S(w_i | w_{i-1}) = c2(w_{i-1} w_i)/c1(w_{i-1})        if c2 > 0
    *                      α · c1(w_i)/N                      otherwise
    * against the train split's own count tables (the corpus-absorbs-
    * a-batch idiom of [[qLmScore]], same 90% `q_split_assign` bucket).
    *
    * Exact-arithmetic form (the Q discipline: no transcendentals in
    * hash-compared columns): probabilities are quantized to the
    * power of two below — log2 S becomes INTEGER BITS via [[flog2]] —
    * and α = 1/4 (the power-of-two neighbor of Brants' 0.4), so a
    * position's surprisal is
    *   bits = flog2(c2) − flog2(c1_prev)                     if seen
    *          −2 + flog2(c1_cur + 1) − flog2(N + 1)          backoff
    * and a doc's score `bits_total` = Σ bits is a pure BIGINT sum —
    * bit-identical at any partitioning, any engine. Ranks the same
    * direction as Stupid-Backoff log-prob (within-quantization), and
    * unlike [[qLmScore]]'s flat familiarity it keeps the backoff
    * HIERARCHY: an unseen bigram of a common unigram scores far above
    * an OOV token, the distinction perplexity filters actually use.
    *
    * Scale shape (the [[qLmScore]] contract): bigram/unigram
    * occurrences hash to 8 bytes map-side (the gram string never
    * shuffles); each count table is ONE hash aggregate with map-side
    * combine; scoring is three `shuffle_hash` left joins on the hash
    * keys (build sides are DISTINCT-vocab-sized — the bounded-build
    * rule's safe case, they grow with vocabulary, not corpus
    * occurrences) + one per-doc aggregate; N rides a broadcast 1-row
    * frame, never a driver action. Nothing is driver-side.
    */
  val qLmBackoff = Q(
    "q_lm_backoff",
    (s, d) => {
      val bucket = expr(Sampling.bucketSql("doc_id", 0L, 100L))
      val toks = Tables.fanOut(documents(s, d))
        .select(col("doc_id"), bucket.as("bucket"), split(col("text"), " ").as("w"))
        .withColumn("n", size(col("w")))
      // one row per bigram position: hashes of the bigram, its prefix
      // unigram (context) and its current unigram (backoff target)
      val pos = toks
        .where(col("n") >= 2)
        .select(col("doc_id"), col("bucket"), col("w"),
          explode(sequence(lit(0), col("n") - 2)).as("i"))
        .select(col("doc_id"), col("bucket"),
          xxhash64(array_join(slice(col("w"), col("i") + 1, lit(2)), " ")).as("h2"),
          xxhash64(element_at(col("w"), col("i") + 1)).as("h1p"),
          xxhash64(element_at(col("w"), col("i") + 2)).as("h1c"))
      val uniTrain = toks.where(col("bucket") < 90)
        .select(explode(col("w")).as("t"))
        .select(xxhash64(col("t")).as("h"))
        .groupBy("h").agg(count(lit(1)).as("c1"))
      val biTrain = pos.where(col("bucket") < 90)
        .groupBy("h2").agg(count(lit(1)).as("c2"))
      // total train tokens from the VOCAB table, not a third corpus
      // pass — the q_dsir totals-from-the-bucket-table rule. coalesce
      // matters: an EMPTY train split leaves sum() NULL, which would
      // silently drop every backoff position from the bits sum while
      // the oracle's count(*) computes them from n_train = 0
      val nTrain = uniTrain.agg(coalesce(sum("c1"), lit(0L)).as("n_train"))
      val bits =
        when(col("c2").isNotNull, flog2(col("c2")) - flog2(col("c1p")))
          .otherwise(lit(-2) + flog2(coalesce(col("c1c"), lit(0L)) + 1)
            - flog2(col("n_train") + 1))
      val scored = pos
        .join(biTrain.hint("shuffle_hash"), Seq("h2"), "left")
        .join(uniTrain.withColumnRenamed("h", "h1p")
          .withColumnRenamed("c1", "c1p").hint("shuffle_hash"), Seq("h1p"), "left")
        .join(uniTrain.withColumnRenamed("h", "h1c")
          .withColumnRenamed("c1", "c1c").hint("shuffle_hash"), Seq("h1c"), "left")
        .crossJoin(broadcast(nTrain))
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_scored"),
          count(when(col("c2").isNull, 1)).as("n_backoff"),
          sum(bits.cast("long")).as("bits_total"))
      documents(s, d)
        .select(col("doc_id"))
        .join(scored.hint("shuffle_hash"), Seq("doc_id"), "left")
        .select(
          col("doc_id"),
          coalesce(col("n_scored"), lit(0L)).as("n_scored"),
          coalesce(col("n_backoff"), lit(0L)).as("n_backoff"),
          coalesce(col("bits_total"), lit(0L)).as("bits_total"))
        .orderBy("doc_id")
    },
    Some(s"""WITH b AS (SELECT doc_id,
                               ${Sampling.bucketSql("doc_id", 0L, 100L)} AS bucket,
                               string_split(text, ' ') AS w
                        FROM documents),
             tu AS (SELECT unnest(w) AS t FROM b WHERE bucket < 90),
             uni AS (SELECT t, count(*) AS c1 FROM tu GROUP BY t),
             ntr AS (SELECT count(*) AS n_train FROM tu),
             pos AS (SELECT doc_id, bucket, w[i] AS prev, w[i+1] AS cur,
                            w[i] || ' ' || w[i+1] AS g
                     FROM (SELECT doc_id, bucket, w, unnest(range(1, len(w))) AS i
                           FROM b WHERE len(w) >= 2)),
             bi AS (SELECT g, count(*) AS c2 FROM pos WHERE bucket < 90 GROUP BY g),
             sc AS (SELECT p.doc_id, count(*) AS n_scored,
                           count(*) FILTER (WHERE bi.g IS NULL) AS n_backoff,
                           CAST(sum(CASE WHEN bi.g IS NOT NULL
                                    THEN ${flog2Sql("bi.c2")} - ${flog2Sql("up.c1")}
                                    ELSE -2 + ${flog2Sql("coalesce(uc.c1, 0) + 1")}
                                           - ${flog2Sql("n_train + 1")} END) AS BIGINT)
                             AS bits_total
                    FROM pos p
                    LEFT JOIN bi ON p.g = bi.g
                    LEFT JOIN uni up ON p.prev = up.t
                    LEFT JOIN uni uc ON p.cur = uc.t, ntr
                    GROUP BY p.doc_id)
             SELECT d.doc_id,
                    coalesce(sc.n_scored, 0) AS n_scored,
                    coalesce(sc.n_backoff, 0) AS n_backoff,
                    coalesce(sc.bits_total, 0) AS bits_total
             FROM documents d LEFT JOIN sc USING (doc_id)
             ORDER BY d.doc_id""")
  )

  /** The UDTF surface exercised from pure SQL: top-10 corpus shingles
    * by document frequency via `LATERAL VIEW graft_explode_shingles`
    * (the custom Catalyst Generator [[graft.functions.ExplodeWordShingles]]
    * registered by GraftExtensions) — a SQL user gets a table-valued
    * function with the engine's exact shingle semantics. Deterministic
    * top-10: (df DESC, shingle ASC) is a total order.
    */
  val qSqlShingles = Q(
    "q_sql_shingles",
    (s, d) => {
      documents(s, d).createOrReplaceTempView("docs_sql")
      s.sql("""SELECT shingle, count(*) AS n_docs
               FROM docs_sql LATERAL VIEW graft_explode_shingles(text, 3) t AS shingle
               GROUP BY shingle
               ORDER BY n_docs DESC, shingle
               LIMIT 10""")
    },
    Some("""WITH toks AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
            sh AS (SELECT doc_id,
                          unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                                for i in range(1, len(w)-1)])) AS shingle
                   FROM toks WHERE len(w) >= 3)
            SELECT shingle, count(*) AS n_docs
            FROM sh GROUP BY shingle
            ORDER BY n_docs DESC, shingle
            LIMIT 10""")
  )

  /** Count-Min Sketch dimensions: depth 4 independent hash rows ×
    * width 2048 counters = 8 192 BIGINT cells — FIXED at any corpus
    * size. Error law: est ≥ true always (one-sided), est − true ≤ εN
    * with ε = e/width w.h.p. — CmsSpec pins both plus the monoid merge.
    */
  private[ops] val CMS_D = 4
  private[ops] val CMS_W = 2048

  /** The (row, cell) pairs a term increments/probes — shared by build
    * and probe sides so the addressing can never drift. xxhash64 with
    * the row index as a second column gives [[CMS_D]] independent
    * deterministic hash functions.
    */
  private def cmsCells(term: String): org.apache.spark.sql.Column =
    explode(expr(
      s"transform(sequence(0, ${CMS_D - 1}), " +
        s"i -> struct(i AS r, pmod(xxhash64($term, i), $CMS_W) AS c))"))

  /** Sketch build over a `term` column: the fixed-domain cell counters.
    * Exposed for CmsSpec's monoid-merge law (sketch(A ∪ B) must equal
    * the cell-wise sum of sketch(A) and sketch(B) — the property that
    * makes the sketch partial-aggregation- and multi-corpus-mergeable).
    */
  private[ops] def cmsBuild(toks: DataFrame): DataFrame =
    toks
      .select(cmsCells("term").as("rc"))
      .groupBy(col("rc.r").as("r"), col("rc.c").as("c"))
      .agg(count(lit(1)).as("v"))

  /** COUNT-MIN SKETCH term frequencies (Cormode & Muthukrishnan 2005) —
    * the point-frequency sketch that completes the engine's sketch
    * family (HLL cardinality = q_approx_distinct, Bloom membership =
    * q_decontaminate_bloom, CMS frequency = this): answer "how often
    * does term t occur?" over a 100 TB token stream from 8 192 counters
    * instead of a |vocabulary|-sized exact table. The declared query
    * builds the sketch, then probes it with the exact global top-10
    * terms and emits (term, n_exact, n_est) — the overestimate audit.
    *
    * Scale shape: the build is ONE map-side-combined aggregation whose
    * group domain is the FIXED 8 192 cells (each partition pre-collapses
    * its token stream to ≤ d·w partial counters — the shuffle moves
    * O(cells), never O(tokens)); the probe side joins 40 probe rows
    * against the cell table with the CELL TABLE broadcast — the rare
    * join whose build side is constant-sized BY CONSTRUCTION at any
    * corpus size. est(t) = min over the 4 rows (each row's cell
    * OVERcounts by its hash collisions, never undercounts — taking the
    * min keeps the one-sided law while shedding the worst collisions).
    * Declared rows-only (∅): cell addressing is xxhash64, engine-
    * specific like the HLL sketch; CmsSpec proves the laws against the
    * exact counts.
    */
  val qCmsTerms = Q(
    "q_cms_terms",
    (s, d) => {
      val toks = fanOut(documents(s, d))
        .select(explode(split(col("text"), " ")).as("term"))
        .where(col("term") =!= "")
      val cells = cmsBuild(toks)
      val top = toks.groupBy("term").agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("term").asc)
        .limit(10)
      top
        .select(col("term"), col("n_exact"), cmsCells("term").as("rc"))
        .join(broadcast(cells),
          col("rc.r") === col("r") && col("rc.c") === col("c"))
        .groupBy("term", "n_exact")
        .agg(min(col("v")).as("n_est"))
        .orderBy("term")
    },
    None // sketch cell addressing is engine-specific (like q_approx_distinct)
  )

  /** SLIDING-WINDOW CHUNKING (r7) — the RAG/context-window chunker: each
    * document split into C=32-token chunks at stride S=16 (50% overlap),
    * the shape every retrieval pipeline feeds its embedding model (and
    * what this engine's own q_ann_* index would ingest). Chunk grid:
    * starts 0, S, 2S, … with the redundant tail dropped — a start > 0
    * whose window would be fully contained in its predecessor's
    * (start ≥ n − (C − S)) never emits, so exactly
    * ⌈max(n−C,0)/S⌉ + 1 chunks per doc, every token covered, and the
    * final chunk ends at the final token.
    *
    * Scale: a per-row projection + explode — fan-out n/S per doc, NO
    * shuffle, chunking at scan speed; per-doc work is bounded by doc
    * length (cap pathological docs upstream with the q_sample_per_key
    * idiom). (doc_id, chunk_idx) is unique → total order.
    */
  val qChunkOverlap = Q(
    "q_chunk_overlap",
    (s, d) =>
      documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .withColumn("n", size(col("toks")))
        .select(col("doc_id"), col("toks"), col("n"),
          explode(filter(sequence(lit(0), col("n") - 1, lit(16)),
            x => x === 0 || x < col("n") - 16)).as("start"))
        .select(col("doc_id"),
          (col("start") / 16).cast("int").as("chunk_idx"),
          col("start").cast("int").as("start_tok"),
          least(lit(32), col("n") - col("start")).cast("int").as("n_tok"),
          concat_ws(" ", slice(col("toks"), col("start") + 1, lit(32))).as("chunk"))
        .orderBy("doc_id", "chunk_idx"),
    Some("""WITH toks AS (
              SELECT doc_id, string_split(text,' ') AS t,
                     len(string_split(text,' ')) AS n
              FROM documents),
            st AS (
              SELECT doc_id, t, n,
                     unnest(list_filter(range(0, n, 16),
                                        x -> x = 0 OR x < n - 16)) AS s
              FROM toks)
            SELECT doc_id, CAST(s // 16 AS INTEGER) AS chunk_idx,
                   CAST(s AS INTEGER) AS start_tok,
                   CAST(least(32, n - s) AS INTEGER) AS n_tok,
                   array_to_string(list_slice(t, s + 1, s + 32), ' ') AS chunk
            FROM st ORDER BY doc_id, chunk_idx""")
  )

  /** TEXT NORMALIZATION (r7) — the canonicalization pass every dedup/
    * shingle/tokenize stage assumes upstream (C4/RefinedWeb "cleaning"):
    * lowercase → non-alphanumerics to spaces → whitespace squeezed →
    * trimmed, plus the before/after token counts as the audit trail.
    * Dedup keys computed on RAW text miss trivially-reformatted
    * duplicates; this is the operator that closes that hole.
    *
    * Pure per-row codegen'd regexp/string projection — NO shuffle, scan
    * speed at any corpus size; the canonical text feeds q_fingerprint /
    * q_dedup_* / q_bpe_* unchanged. Both engines apply the same two
    * regexes globally (Spark replaces all matches by default, DuckDB
    * via the 'g' option — same semantics, spec'd by the hash).
    */
  val qTextNormalize = Q(
    "q_text_normalize",
    (s, d) =>
      documents(s, d)
        .select(col("doc_id"),
          size(split(col("text"), " ")).as("n_tok_raw"),
          trim(regexp_replace(
            regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "),
            " +", " ")).as("norm_text"))
        .withColumn("n_tok_norm", size(split(col("norm_text"), " ")))
        .select("doc_id", "norm_text", "n_tok_raw", "n_tok_norm")
        .orderBy("doc_id"),
    Some("""SELECT doc_id,
                   trim(regexp_replace(
                     regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                     ' +', ' ', 'g')) AS norm_text,
                   CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tok_raw,
                   CAST(len(string_split(trim(regexp_replace(
                     regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                     ' +', ' ', 'g')), ' ')) AS INTEGER) AS n_tok_norm
            FROM documents ORDER BY doc_id""")
  )

  /** The query terms every BM25 query here scores, in the fixed
    * left-to-right order their per-term scores are summed in.
    */
  private val bm25Terms = Seq("dup", "query", "batch", "vector")

  /** The BM25 score of [[bm25Terms]] over the columns `tf_<t>`,
    * `df_<t>`, `dl`, `n_docs` and `sum_dl` — the exact-rational form
    * documented on [[qBm25]], ONE expression for the full scan
    * ([[bm25Scored]]) and the index probe ([[probeIndex]]), so a probe
    * score is bit-identical to the scan score of the same document (a
    * term the document lacks contributes exactly +0.0).
    */
  private def bm25Score: Column =
    bm25Terms.map { t =>
      val tf = col(s"tf_$t"); val df = col(s"df_$t")
      val num = lit(44L) * tf * col("sum_dl")
      val den = lit(20L) * tf * col("sum_dl") + lit(6L) * col("sum_dl") +
        lit(18L) * col("dl") * col("n_docs")
      (num.cast("double") / den.cast("double")) *
        ((lit(2L) * col("n_docs") - lit(2L) * df + lit(1L)).cast("double") /
          (lit(2L) * df + lit(1L)).cast("double"))
    }.reduceLeft(_ + _).as("score")

  /** The q_bm25 scoring relation before its top-k funnel — shared with
    * [[qRerank]] so the retrieval stage of the two-tower serving
    * composition is BY CONSTRUCTION the declared retriever.
    */
  private[ops] def bm25Scored(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val base = documents(s, d).select(
      (col("doc_id") +:
        size(split(col("text"), " ")).cast("long").as("dl") +:
        bm25Terms.map(t =>
          size(filter(split(col("text"), " "), x => x === lit(t)))
            .cast("long").as(s"tf_$t"))): _*)
    val aggs =
      sum(col("dl")).as("sum_dl") +:
        bm25Terms.map(t =>
          sum(when(col(s"tf_$t") > 0, 1L).otherwise(0L)).as(s"df_$t"))
    val stats = base.agg(count(lit(1)).as("n_docs"), aggs: _*)
    base.crossJoin(broadcast(stats))
      .select(
        (col("doc_id") +: col("dl") +:
          bm25Terms.map(t => col(s"tf_$t")) :+ bm25Score): _*)
  }
  /** The q_bm25 oracle's base/stats CTEs and score expression — ONE
    * text, consumed by both the q_bm25 and q_rerank oracles so the
    * reranker's retrieval stage cannot drift from the retriever.
    */
  private val bm25OracleCte: String =
    """base AS (
              SELECT doc_id,
                     CAST(len(string_split(text,' ')) AS BIGINT) AS dl,
                     CAST(len(list_filter(string_split(text,' '), x -> x = 'dup')) AS BIGINT) AS tf_dup,
                     CAST(len(list_filter(string_split(text,' '), x -> x = 'query')) AS BIGINT) AS tf_query,
                     CAST(len(list_filter(string_split(text,' '), x -> x = 'batch')) AS BIGINT) AS tf_batch,
                     CAST(len(list_filter(string_split(text,' '), x -> x = 'vector')) AS BIGINT) AS tf_vector
              FROM documents),
            stats AS (
              SELECT CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(dl) AS BIGINT) AS sum_dl,
                     CAST(sum(CASE WHEN tf_dup > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_dup,
                     CAST(sum(CASE WHEN tf_query > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_query,
                     CAST(sum(CASE WHEN tf_batch > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_batch,
                     CAST(sum(CASE WHEN tf_vector > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_vector
              FROM base)"""

  private val bm25ScoreSql: String =
    """(CAST(44*tf_dup*sum_dl AS DOUBLE) / CAST(20*tf_dup*sum_dl + 6*sum_dl + 18*dl*n_docs AS DOUBLE))
                     * (CAST(2*n_docs - 2*df_dup + 1 AS DOUBLE) / CAST(2*df_dup + 1 AS DOUBLE))
                 + (CAST(44*tf_query*sum_dl AS DOUBLE) / CAST(20*tf_query*sum_dl + 6*sum_dl + 18*dl*n_docs AS DOUBLE))
                     * (CAST(2*n_docs - 2*df_query + 1 AS DOUBLE) / CAST(2*df_query + 1 AS DOUBLE))
                 + (CAST(44*tf_batch*sum_dl AS DOUBLE) / CAST(20*tf_batch*sum_dl + 6*sum_dl + 18*dl*n_docs AS DOUBLE))
                     * (CAST(2*n_docs - 2*df_batch + 1 AS DOUBLE) / CAST(2*df_batch + 1 AS DOUBLE))
                 + (CAST(44*tf_vector*sum_dl AS DOUBLE) / CAST(20*tf_vector*sum_dl + 6*sum_dl + 18*dl*n_docs AS DOUBLE))
                     * (CAST(2*n_docs - 2*df_vector + 1 AS DOUBLE) / CAST(2*df_vector + 1 AS DOUBLE))"""

  /** BM25 RETRIEVAL SCORING (r7) — Robertson/Okapi BM25 (k1=1.2, b=0.75),
    * the lexical-retrieval baseline every RAG pipeline ranks against
    * (and the hard-negative miner for embedding training). Exact-
    * arithmetic form per the repo's no-transcendentals discipline: the
    * tf saturation term is cleared of fractions by multiplying through
    * by 20·Σdl —
    *   tf·(k1+1) / (tf + k1(1−b+b·dl/avgdl))
    *     = 44·tf·Σdl / (20·tf·Σdl + 6·Σdl + 18·dl·N)
    * (avgdl = Σdl/N), and the idf is the rational Robertson form
    * WITHOUT the log: (N−df+½)/(df+½) = (2N−2df+1)/(2df+1) — exact
    * BIGINTs everywhere, each term's score ONE division×division×
    * multiply IEEE chain written token-identically in both dialects,
    * summed in fixed left-to-right term order. Monotonicity vs the
    * log form differs only in scale compression, not ranking direction
    * per term (both decrease in df) — the q_tfidf linear-idf trade.
    *
    * Scale: corpus stats (N, Σdl, per-term df) are ONE map-side-combined
    * aggregation to a SINGLE row broadcast back onto the scan; per-doc
    * tf is an array-filter projection (no explode, no shuffle); the
    * ranking is a top-20 TakeOrderedAndProject — never a global sort.
    * At 100 TB: stats row is O(|query|), the scan runs at full speed,
    * and the only data-scale movement is the top-k funnel's k rows per
    * partition. Overflow bound: 20·tf·Σdl ≤ 20·dl_max·Σdl — at Σdl =
    * 10^13 tokens and dl_max 10^4 that is 2·10^18 < 2^63; shard the
    * corpus (per-split stats) before that point.
    */
  val qBm25 = Q(
    "q_bm25",
    (s, d) =>
      bm25Scored(s, d)
        .orderBy(desc("score"), col("doc_id"))
        .limit(20),
    Some(s"""WITH $bm25OracleCte
            SELECT doc_id, dl, tf_dup, tf_query, tf_batch, tf_vector,
                   $bm25ScoreSql AS score
            FROM base, stats
            ORDER BY score DESC, doc_id LIMIT 20""")
  )

  /** INVERTED-INDEX BUILD (r7) — blocked delta-encoded posting lists,
    * the physical layout a lexical search index (Lucene-style) actually
    * materializes: per term, doc ids sorted ascending, stored as GAPS
    * (first posting absolute, then successive differences — the
    * varint-compression substrate), split into 128-posting BLOCKS so no
    * output row grows with corpus size. Term universe bounded to the
    * top-12 terms by (df DESC, term) so the declared query's output is
    * stable; the build shape is term-agnostic.
    *
    * Scale: (term, doc) distinct is one map-side-combined shuffle; the
    * df ranking is a TakeOrdered(12) funnel broadcast back as a semi
    * filter; numbering+gaps share ONE term-keyed Window exchange and
    * the block groupBy reuses that partitioning (partial agg on sorted
    * runs). Per-row width is capped at 128 gaps by construction — a
    * celebrity term becomes many blocks, never one giant row.
    */
  val qInvertedIndex = Q(
    "q_inverted_index",
    (s, d) => {
      val postings = documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .distinct()
      val top = postings.groupBy("term").agg(count(lit(1)).as("df"))
        .orderBy(desc("df"), col("term")).limit(12).select("term")
      val w = Window.partitionBy("term").orderBy("doc_id")
      postings.join(broadcast(top), "term")
        .withColumn("rn", row_number().over(w))
        .withColumn("gap",
          col("doc_id") - coalesce(lag("doc_id", 1).over(w), lit(0L)))
        .withColumn("block_id",
          floor((col("rn") - 1) / lit(128.0)).cast("int"))
        .groupBy(col("term"), col("block_id"))
        .agg(
          count(lit(1)).cast("int").as("n_in_block"),
          min("doc_id").as("first_doc"),
          array_join(
            transform(
              array_sort(collect_list(struct(col("rn"), col("gap")))),
              x => x.getField("gap").cast("string")),
            ",").as("gaps_csv"))
        .orderBy("term", "block_id")
    },
    Some("""WITH postings AS (
              SELECT DISTINCT doc_id, unnest(string_split(text,' ')) AS term
              FROM documents),
            top AS (
              SELECT term FROM postings GROUP BY term
              ORDER BY count(*) DESC, term LIMIT 12),
            numbered AS (
              SELECT p.term, p.doc_id,
                     row_number() OVER (PARTITION BY p.term ORDER BY p.doc_id) AS rn,
                     p.doc_id - coalesce(lag(p.doc_id) OVER (PARTITION BY p.term ORDER BY p.doc_id), 0) AS gap
              FROM postings p JOIN top t ON p.term = t.term)
            SELECT term,
                   CAST(floor((rn - 1) / 128.0) AS INTEGER) AS block_id,
                   CAST(count(*) AS INTEGER) AS n_in_block,
                   min(doc_id) AS first_doc,
                   string_agg(CAST(gap AS VARCHAR), ',' ORDER BY rn) AS gaps_csv
            FROM numbered
            GROUP BY term, CAST(floor((rn - 1) / 128.0) AS INTEGER)
            ORDER BY term, block_id""")
  )

  /** THE segment writer: index `docs` into `dir` as the three files a
    * lexical index actually ships —
    *
    *  - `postings.parquet` (term, doc_id, tf, dl): one row per distinct
    *    (term, doc) with the term frequency and the doc length
    *    DENORMALIZED into the posting (Lucene stores norms in a
    *    sidecar; relational probing wants them in the row so scoring
    *    never joins a corpus-wide norms table);
    *  - `dict.parquet` (term, df): the term dictionary with document
    *    frequencies — probe-time idf needs df without touching postings
    *    twice;
    *  - `stats.parquet` (n_docs, sum_dl): ONE row of corpus constants.
    *
    * Build cost is one explode + one (term, doc_id) groupBy over the
    * documents — the same work `q_inverted_index` already pays — plus
    * two cheap rollups. Every index layout here writes its segments
    * through it: [[invertedIndexLayout]] one over the corpus,
    * [[segmentsLayout]] one per doc predicate.
    */
  private def writeSegment(s: org.apache.spark.sql.SparkSession,
      docs: DataFrame, dir: String): Unit = {
    docs
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("dl"),
        explode(split(col("text"), " ")).as("term"))
      .groupBy("term", "doc_id")
      .agg(count(lit(1)).as("tf"), max("dl").as("dl"))
      .write.mode("overwrite").parquet(s"$dir/postings.parquet")
    s.read.parquet(s"$dir/postings.parquet")
      .groupBy("term").agg(count(lit(1)).as("df"))
      .write.mode("overwrite").parquet(s"$dir/dict.parquet")
    docs
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("sum_dl"))
      .write.mode("overwrite").parquet(s"$dir/stats.parquet")
  }

  /** Materialized inverted-index LAYOUT for the probe-path retriever
    * ([[qBm25Postings]]): ONE [[writeSegment]] over the whole corpus,
    * built ONCE per corpus (content-keyed by [[Staged]]) and read by
    * every query after. All three parts build under a temp dir and
    * publish in ONE rename — readers never see a layout whose parts
    * disagree. At 100 TB this is the offline index build every search
    * system amortizes across queries.
    */
  def invertedIndexLayout(s: org.apache.spark.sql.SparkSession, d: String): String =
    Staged.layout(s, "bm25_index", docsSrc(d)) { tmp =>
      writeSegment(s, documents(s, d), tmp)
    }

  /** A segmented index layout `name`: one [[writeSegment]] per
    * (segment name, doc predicate), each segment a subdirectory with
    * its own postings/dict/stats, published together as one layout.
    * Content-keyed cache + atomic whole-layout publish, as
    * [[invertedIndexLayout]].
    */
  private def segmentsLayout(s: org.apache.spark.sql.SparkSession, d: String,
      name: String, segs: Seq[(String, Column)]): String =
    Staged.layout(s, name, docsSrc(d)) { tmp =>
      for ((seg, pred) <- segs) writeSegment(s, documents(s, d).where(pred), s"$tmp/$seg")
    }

  /** Segmented (Lucene-style) index layout: TWO independently-built
    * segments — seg_a holds `doc_id % 10 < 9` (the established corpus),
    * seg_b the rest (the freshly-absorbed batch). The point of the
    * layout: absorbing a batch WRITES ONE NEW SEGMENT and never touches
    * the old one (maintenance ∝ batch, the q_incremental_dedup
    * economics applied to index build); the query side combines
    * segments because every BM25 statistic is ADDITIVE (df, n_docs,
    * Σdl are monoids).
    */
  def segmentedIndexLayout(s: org.apache.spark.sql.SparkSession, d: String): String =
    segmentsLayout(s, d, "bm25_segs", Seq(
      "seg_a" -> (col("doc_id") % 10 < 9),
      "seg_b" -> (col("doc_id") % 10 >= 9)))

  /** The q_bm25_postings oracle — whole-corpus scoring of the
    * [[bm25Terms]], assembled from the q_bm25 oracle's CTEs and score
    * text. SHARED VERBATIM by every probe query ([[qBm25Segments]],
    * [[qBm25Merge]], [[qBm25Tiered]]): each probe path must equal the
    * full scan, so one oracle text proves them all.
    */
  private val bm25PostingsOracle: String =
    s"""WITH $bm25OracleCte
            SELECT doc_id, dl,
                   CAST((CASE WHEN tf_dup > 0 THEN 1 ELSE 0 END)
                      + (CASE WHEN tf_query > 0 THEN 1 ELSE 0 END)
                      + (CASE WHEN tf_batch > 0 THEN 1 ELSE 0 END)
                      + (CASE WHEN tf_vector > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_terms,
                   $bm25ScoreSql
                   AS score
            FROM base, stats
            WHERE tf_dup + tf_query + tf_batch + tf_vector > 0
            ORDER BY score DESC, doc_id LIMIT 20"""

  /** THE index probe, over any list of segment directories (one for a
    * single-build or merged index): union the segments' postings for
    * the [[bm25Terms]] ONLY (the `term IN (...)` predicate pushes into
    * every parquet scan — the corpus text is never read), pivot the
    * matched postings to one row per candidate doc, sum per-term dfs
    * across the dicts and n_docs/Σdl across the stats at query time —
    * legal because every BM25 statistic is additive — and score with
    * [[bm25Score]]. A single segment's stats row already is the total,
    * so it joins as read, without an aggregate.
    */
  private def probeIndex(s: org.apache.spark.sql.SparkSession,
      segDirs: Seq[String]): DataFrame = {
    def seg(p: String) =
      segDirs.map(sd => s.read.parquet(s"$sd/$p")).reduce(_ unionAll _)
    val posts = seg("postings.parquet").where(col("term").isin(bm25Terms: _*))
    val aggs =
      max("dl").as("dl") +:
        (bm25Terms.map(t =>
          coalesce(sum(when(col("term") === lit(t), col("tf"))), lit(0L))
            .as(s"tf_$t")) :+
          count(lit(1)).as("n_terms"))
    val cand = posts.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
    val dfs = bm25Terms.map(t =>
      coalesce(sum(when(col("term") === lit(t), col("df"))), lit(0L)).as(s"df_$t"))
    val dfRow = seg("dict.parquet")
      .where(col("term").isin(bm25Terms: _*))
      .agg(dfs.head, dfs.tail: _*)
    val stats =
      if (segDirs.size == 1) seg("stats.parquet")
      else seg("stats.parquet").agg(sum("n_docs").as("n_docs"), sum("sum_dl").as("sum_dl"))
    cand.crossJoin(broadcast(dfRow)).crossJoin(broadcast(stats))
      .select(col("doc_id"), col("dl"), col("n_terms"), bm25Score)
      .orderBy(desc("score"), col("doc_id"))
      .limit(20)
  }

  /** BM25 OVER POSTINGS (r8) — the production lexical retriever:
    * [[qBm25]] proved the scoring math by scanning every document;
    * THIS query scores only documents the index says match, which is
    * the shape that works at 100 TB (the knn_join / knn_join_ann
    * pairing, applied to retrieval). Probe algebra ([[probeIndex]]
    * over the one segment): read the [[invertedIndexLayout]] postings for the query terms ONLY (the
    * `term IN (...)` predicate pushes into the parquet scan — the
    * corpus text is never read), pivot the matched postings to one row
    * per candidate doc, join the TWO one-row broadcast sides (df
    * vector from the dictionary, corpus constants from stats), and
    * score with the exact-rational q_bm25 formula in the same fixed
    * left-to-right term order — a term the doc lacks contributes
    * exactly +0.0 (num = 44·0·Σdl = 0), so probe scores are
    * bit-identical to full-scan scores and the ORACLE IS the q_bm25
    * scan algebra restricted to matching docs: the hash match proves
    * probe ≡ scan, the q_deletion_vectors trick.
    *
    * Scale: the probe plan touches index files only — postings scan
    * pruned to |postings(q)| rows by pushdown, ONE doc_id groupBy
    * (map-side combined, ≤ |q| rows per doc), two 1-row broadcasts,
    * top-20 TakeOrderedAndProject. Work ∝ matching postings, never
    * corpus size — the gap VERDICT r7 called the one remaining
    * documented-shape-without-shipped-scale-path.
    */
  val qBm25Postings = Q(
    "q_bm25_postings",
    (s, d) => probeIndex(s, Seq(invertedIndexLayout(s, d))),
    Some(bm25PostingsOracle)
  )

  /** SEGMENTED-INDEX RETRIEVAL (r9) — q_bm25_postings over the
    * [[segmentedIndexLayout]]: [[probeIndex]] over BOTH segments (term
    * pushdown into each scan, documents.parquet absent from the plan)
    * and combine statistics AT QUERY TIME — per-term df sums across
    * segment dicts, n_docs/Σdl sum across segment stats — legal
    * because every BM25 statistic is additive. The ORACLE is
    * [[bm25PostingsOracle]] VERBATIM (whole-corpus full-scan scoring),
    * so the hash match proves segment-combined probe ≡ full scan:
    * the index can absorb batches segment-by-segment forever without
    * a rebuild and keep serving exact scores.
    *
    * Scale shape: work ∝ matching postings across segments (union of
    * two pushed-down scans), candidates pivot through ONE doc_id
    * groupBy, df/stats are (2·|terms| + 2)-row broadcasts, top-20 is
    * TakeOrderedAndProject. Maintenance: a new batch = one new
    * segment build ∝ batch size; the merge is the query.
    */
  val qBm25Segments = Q(
    "q_bm25_segments",
    (s, d) => {
      val ix = segmentedIndexLayout(s, d)
      probeIndex(s, Seq(s"$ix/seg_a", s"$ix/seg_b"))
    },
    Some(bm25PostingsOracle)
  )

  // PAIR-METRIC STAGES — the dataflow every (candidate, reference)
  // eval metric below shares, so each metric is a gram extractor plus
  // its final projection. Every join side is corpus-scale (one row per
  // doc or per (doc, gram)): NOTHING here may broadcast, whatever the
  // test-scale size stats say, and no side is bounded, so no hash
  // build side may be forced either — merge is the only strategy
  // whose memory is flat in partition size (the sf10 ledger caught a
  // forced shuffle_hash OOMing on q_bleu's ~45M-gram build side).

  /** Stage 1, pairing: each doc as a candidate against each of the next
    * `k` docs of its source by id (`ref_id`) — the fixture's
    * deterministic (cand, ref) table; a production run swaps in its own
    * and the algebra is unchanged. The candidate's `carry` columns ride
    * along. k = 1 stays a plain window column (no explode).
    */
  private def nextDocs(docs: DataFrame, k: Int, carry: String*): DataFrame = {
    val w = Window.partitionBy("source").orderBy("doc_id")
    val leads = (1 to k).map(i => lead("doc_id", i).over(w))
    val paired =
      if (k == 1) docs.withColumn("ref_id", leads.head)
      else docs.withColumn("rs", array(leads: _*)).withColumn("ref_id", explode(col("rs")))
    paired.where(col("ref_id").isNotNull)
      .select((col("doc_id").as("cand_id") +: col("ref_id") +: carry.map(col)): _*)
  }

  /** Stage 2, tagged gram counts: one explode per extractor
    * (n, row guard, gram array over `src`), the streams union'd into
    * ONE map-side-combined (doc_id, n, gram) → c count — grams WITH
    * multiplicity, so a clip counts repeats. A lone stream's tag is a
    * constant the optimizer folds out of the clip-join keys, so it is
    * added after the count: keyed on it, the count's hash partitioning
    * would no longer serve the (ref_id, gram) join, which would then
    * shuffle the counts a second time.
    */
  private def gramCounts(src: DataFrame,
      grams: Seq[(Int, Column, Column)]): DataFrame = {
    val tagged = grams
      .map { case (n, guard, g) =>
        src.where(guard).select(col("doc_id"), lit(n).as("n"), explode(g).as("gram"))
      }
      .reduce(_ unionByName _)
    if (grams.size > 1) tagged.groupBy("doc_id", "n", "gram").agg(count(lit(1)).as("c"))
    else tagged.groupBy("doc_id", "gram").agg(count(lit(1)).as("c"))
      .withColumn("n", lit(grams.head._1))
  }

  /** Whitespace tokens `w` per doc: the word metrics' gram source. */
  private def wordToks(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("w"))

  /** Word unigrams and bigrams over [[wordToks]] ([[wordBigramsExpr]]). */
  private def wordGrams =
    Seq((1, lit(true), col("w")), (2, size(col("w")) >= 2, expr(wordBigramsExpr)))

  /** Per-doc word totals over [[wordToks]]: n1 tokens, n2 bigrams. */
  private def wordLens(toks: DataFrame): DataFrame =
    toks.select(col("doc_id"),
      size(col("w")).cast("long").as("n1"),
      greatest(size(col("w")) - 1, lit(0)).cast("long").as("n2"))

  /** Stage 3, THE clipped-overlap join: `cand` (…, n, gram, c) ⋈ `ref`
    * (…, n, gram, c_ref) on `on`, then per group `by` each named clip
    * Σ_g min(c, c_ref) over its n — exact BIGINTs, map-side combined.
    * Keyed on gram, a hot gram fans out by its pairing multiplicity,
    * never by corpus frequency.
    */
  private def clipJoin(cand: DataFrame, ref: DataFrame, on: Seq[String],
      by: Seq[String], clips: Seq[(String, Int)]): DataFrame = {
    val sums = clips.map { case (name, n) =>
      sum(when(col("n") === n, least(col("c"), col("c_ref"))).otherwise(lit(0L))).as(name)
    }
    cand.hint("merge").join(ref.hint("merge"), on)
      .groupBy(by.map(col): _*).agg(sums.head, sums.tail: _*)
  }

  /** Stages 3 + 4 per pair: the [[clipJoin]] of every (cand_id, ref_id)
    * pair over the gram counts `gc`, then the length-join chain — pairs
    * ⟕ clips (a pair sharing no gram clips to 0) ⋈ candidate lengths ⋈
    * reference lengths, `cand`/`ref` naming the `lens` columns each
    * side carries as (lens column, output name).
    */
  private def pairClips(pairs: DataFrame, gc: DataFrame, clips: Seq[(String, Int)],
      lens: DataFrame, cand: Seq[(String, String)], ref: Seq[(String, String)]): DataFrame = {
    val clip = clipJoin(
      pairs.hint("merge")
        .join(gc.withColumnRenamed("doc_id", "cand_id").hint("merge"), "cand_id"),
      gc.select(col("doc_id").as("ref_id"), col("n"), col("gram"), col("c").as("c_ref")),
      Seq("ref_id", "n", "gram"), Seq("cand_id", "ref_id"), clips)
    def side(id: String, cols: Seq[(String, String)]) =
      lens.select((col("doc_id").as(id) +: cols.map { case (c, a) => col(c).as(a) }): _*)
    pairs.hint("merge")
      .join(clip.hint("merge"), Seq("cand_id", "ref_id"), "left")
      .na.fill(0L, clips.map(_._1))
      .hint("merge")
      .join(side("cand_id", cand).hint("merge"), "cand_id")
      .hint("merge")
      .join(side("ref_id", ref).hint("merge"), "ref_id")
  }

  /** ROUGE's emitted triple over a hit count `hit` and the pair's
    * `n_cand`/`n_ref`: p = hit/n_cand, r = hit/n_ref,
    * f1 = 2·hit/(n_cand + n_ref) — each ONE IEEE division of exact
    * integers (f1 never from the rounded p and r), round(,6) once.
    */
  private def prf(hit: String): Seq[Column] = {
    val h = col(hit).cast("double")
    Seq(
      round(h / col("n_cand").cast("double"), 6).as("p"),
      round(h / col("n_ref").cast("double"), 6).as("r"),
      round(lit(2L) * h / (col("n_cand") + col("n_ref")).cast("double"), 6).as("f1"))
  }

  /** BLEU-2's emitted pieces over clip1/clip2 and the candidate's
    * n1_cand/n2_cand: p1, p2 and bleu2 = sqrt(clip1·clip2 / (n1·n2)) —
    * ONE division of exact integer products each, sqrt IEEE-exact —
    * plus len_ratio = n1_cand / `refLen` for the brevity fold.
    */
  private def bleuCols(refLen: String): Seq[Column] = Seq(
    round(col("clip1").cast("double") / col("n1_cand").cast("double"), 6).as("p1"),
    round(col("clip2").cast("double")
      / nullif(col("n2_cand"), lit(0L)).cast("double"), 6).as("p2"),
    round(sqrt((col("clip1") * col("clip2")).cast("double")
      / nullif(col("n1_cand") * col("n2_cand"), lit(0L)).cast("double")), 6)
      .as("bleu2"),
    round(col("n1_cand").cast("double") / col(refLen).cast("double"), 6)
      .as("len_ratio"))

  /** EVALUATION-METRIC COMPUTATION (r10, new family surface) — ROUGE-1
    * precision/recall/F1 with CLIPPED counts (Lin 2004), the
    * generation-eval metric an RLHF/eval harness computes at corpus
    * scale over (candidate, reference) pairs: overlap = Σ_t min(tf_t in
    * candidate, tf_t in reference) — clipping is what stops a candidate
    * repeating one reference word from scoring 100% precision.
    * Pairing here is deterministic from the fixture (each doc vs the
    * NEXT doc of its source by id — the lead window); a production run
    * swaps in its own (cand, ref) pair table and the algebra is
    * unchanged.
    *
    * Exactness: token counts and the clipped overlap are exact BIGINTs
    * (`least` of two counts, summed); p/r/f1 are each ONE IEEE division
    * of exact integers (f1 = 2·clip/(n_cand + n_ref) — computed
    * directly, never from the rounded p and r), round(,6) once.
    *
    * Scale shape: ONE map-side-combined (doc, token) count aggregate
    * over the corpus; the clip join is keyed on (ref_id, token) — the
    * ref side is unique per key, so a hot token fans out by its
    * PAIRING multiplicity only (1 here), never by corpus frequency —
    * both sides corpus-scale, SORT-MERGE joined (the sf10 ledger
    * caught the first cut forcing shuffle_hash here: a corpus-scale
    * build side's per-task hash map OOMs at 500k docs, and at 100 TB a
    * fortiori — SMJ spills gracefully; hash joins are for BOUNDED
    * build sides only), never broadcast; ONE pair-keyed sum; per-row
    * divisions. Work ∝ Σ tokens at any corpus size.
    */
  val qRouge = Q(
    "q_rouge",
    (s, d) => {
      val docs = documents(s, d)
      val toks = wordToks(docs)
      pairClips(nextDocs(docs, 1), gramCounts(toks, wordGrams.take(1)), Seq("clip" -> 1),
        wordLens(toks), Seq("n1" -> "n_cand"), Seq("n1" -> "n_ref"))
        .select((Seq("cand_id", "ref_id", "clip", "n_cand", "n_ref").map(col) ++
          prf("clip")): _*)
        .orderBy("cand_id")
    },
    Some("""WITH lens AS (
              SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
              FROM documents),
            pairs AS (
              SELECT doc_id AS cand_id,
                     lead(doc_id) OVER (PARTITION BY source ORDER BY doc_id) AS ref_id
              FROM documents),
            live AS (SELECT * FROM pairs WHERE ref_id IS NOT NULL),
            tc AS (
              SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
              FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                    FROM documents)
              GROUP BY doc_id, tok),
            clip AS (
              SELECT p.cand_id, p.ref_id,
                     CAST(sum(least(a.c, b.c)) AS BIGINT) AS clip
              FROM live p
              JOIN tc a ON a.doc_id = p.cand_id
              JOIN tc b ON b.doc_id = p.ref_id AND b.tok = a.tok
              GROUP BY p.cand_id, p.ref_id)
            SELECT p.cand_id AS cand_id, p.ref_id AS ref_id,
                   COALESCE(c.clip, 0) AS clip,
                   la.n_toks AS n_cand, lb.n_toks AS n_ref,
                   round(CAST(COALESCE(c.clip, 0) AS DOUBLE) / CAST(la.n_toks AS DOUBLE), 6) AS p,
                   round(CAST(COALESCE(c.clip, 0) AS DOUBLE) / CAST(lb.n_toks AS DOUBLE), 6) AS r,
                   round(2 * CAST(COALESCE(c.clip, 0) AS DOUBLE)
                         / CAST(la.n_toks + lb.n_toks AS DOUBLE), 6) AS f1
            FROM live p
            LEFT JOIN clip c ON c.cand_id = p.cand_id AND c.ref_id = p.ref_id
            JOIN lens la ON la.doc_id = p.cand_id
            JOIN lens lb ON lb.doc_id = p.ref_id
            ORDER BY cand_id""")
  )

  /** ROUGE-L (Lin 2004 §3) — the LCS member of the eval-metric family,
    * over the same deterministic (candidate, reference) pairing as
    * [[qRouge]]: R_lcs = LCS/|ref|, P_lcs = LCS/|cand|, F_lcs their
    * β=1 harmonic mean = 2·LCS/(|cand|+|ref|). Unlike the clip family,
    * LCS rewards IN-ORDER matches at any gap — the sentence-structure
    * signal clipped-unigram ROUGE-1 cannot see — and is not a count
    * join: it is the classic O(len²) dynamic program, which here is
    * ONE native codegen expression per pair
    * ([[graft.functions.LcsLength]], the SpanCorrupt treatment —
    * per-row compute bounded by document length squared, zero extra
    * shuffle), not a UDF and not an exploded self-join.
    *
    * Exactness: LCS and both lengths are exact BIGINTs; p/r/f1 are ONE
    * IEEE division each, round(,6) — the [[qRouge]] discipline. The
    * oracle replays the IDENTICAL two-row DP as a DuckDB recursive CTE
    * whose per-step row update is a `list_reduce` left fold (the
    * within-row max-carry is exactly a fold), so both engines compute
    * the same matrix cell by cell.
    *
    * Scale shape: pairing window + ONE sort-merge join carrying the
    * two text columns to their pair row, then a per-row projection —
    * at 100 TB the metric costs one corpus-scale keyed join; no side
    * may broadcast or hash-build (the q_rouge/q_bleu pin rule), and
    * per-pair work is independent of corpus size.
    */
  val qRougeL = Q(
    "q_rouge_l",
    (s, d) => {
      val docs = documents(s, d)
      val pairs = nextDocs(docs, 1, "text")
        .select(col("cand_id"), col("ref_id"), col("text").as("cand_text"),
          size(split(col("text"), " ")).cast("long").as("n_cand"))
      val refs = docs.select(col("doc_id").as("ref_id"),
        col("text").as("ref_text"),
        size(split(col("text"), " ")).cast("long").as("n_ref"))
      pairs.hint("merge")
        .join(refs.hint("merge"), "ref_id")
        .select(col("cand_id"), col("ref_id"),
          graft.functions.TextHash.lcsLen(col("cand_text"), col("ref_text")).as("lcs"),
          col("n_cand"), col("n_ref"))
        .select((Seq("cand_id", "ref_id", "lcs", "n_cand", "n_ref").map(col) ++
          prf("lcs")): _*)
        .orderBy("cand_id")
    },
    Some("""WITH RECURSIVE pairs AS (
              SELECT doc_id AS cand_id,
                     lead(doc_id) OVER (PARTITION BY source ORDER BY doc_id) AS ref_id,
                     string_split(text, ' ') AS wc
              FROM documents),
            live AS (
              SELECT p.cand_id, p.ref_id, p.wc, string_split(r.text, ' ') AS wr
              FROM pairs p JOIN documents r ON r.doc_id = p.ref_id
              WHERE p.ref_id IS NOT NULL),
            dp AS (
              SELECT cand_id, ref_id, wc, wr, 0 AS i,
                     [0 for j in range(0, len(wr) + 1)] AS row
              FROM live
              UNION ALL
              SELECT cand_id, ref_id, wc, wr, i + 1,
                     list_reduce([[0]] || [[j] for j in range(1, len(wr) + 1)],
                       (acc, x) -> acc || [CASE WHEN wc[i + 1] = wr[x[1]]
                                                THEN row[x[1]] + 1
                                                ELSE greatest(row[x[1] + 1],
                                                              acc[len(acc)]) END])
              FROM dp WHERE i < len(wc))
            SELECT cand_id, ref_id,
                   CAST(row[len(wr) + 1] AS BIGINT) AS lcs,
                   CAST(len(wc) AS BIGINT) AS n_cand,
                   CAST(len(wr) AS BIGINT) AS n_ref,
                   round(CAST(row[len(wr) + 1] AS DOUBLE) / len(wc), 6) AS p,
                   round(CAST(row[len(wr) + 1] AS DOUBLE) / len(wr), 6) AS r,
                   round(2 * CAST(row[len(wr) + 1] AS DOUBLE) / (len(wc) + len(wr)), 6) AS f1
            FROM dp WHERE i = len(wc)
            ORDER BY cand_id""")
  )

  /** BLEU-2 CORE (r10, eval-metric family) — the second generation-eval
    * metric (Papineni et al. 2002) over the same deterministic
    * (candidate, reference) pairing as [[qRouge]]: clipped n-gram
    * precision for n = 1, 2 — clip_n = Σ_g min(tf_g in cand, tf_g in
    * ref) over n-grams WITH multiplicity (no list_distinct — BLEU
    * counts repeats, unlike the shingle machinery) — plus the exact
    * pieces a consumer folds into full BLEU.
    *
    * Exactness discipline (the Q scaladoc contract): clips and gram
    * totals are exact BIGINTs; p1, p2 are ONE division each;
    * `bleu2 = sqrt((clip1·clip2) / (n1·n2))` is ONE division of exact
    * integer PRODUCTS followed by sqrt — both correctly-rounded IEEE
    * ops on every engine (sqrt is exact-rounded by IEEE 754, unlike
    * exp/ln — the qTfidf rule), so the geometric mean is
    * hash-comparable where exp(Σ wn·ln pn) would not be. The brevity
    * penalty's exp(1−r/c) is transcendental, so the query emits the
    * exact `len_ratio = n1_cand / n1_ref` instead and documents the
    * one-op fold the consumer applies.
    *
    * Scale shape: the [[qRouge]] shape with the gram stream TAGGED by n
    * — ONE union'd explode (unigrams ∪ bigrams), ONE map-side-combined
    * (doc, n, gram) count aggregate, ONE clip join keyed on
    * (ref_id, n, gram) — hot grams fan out by pairing multiplicity (1),
    * never corpus frequency; every corpus-scale side SORT-MERGE joined
    * (this query is WHY: its first cut forced shuffle_hash and the
    * sf10 ledger OOM'd the ~45M-gram build side's per-task hash map —
    * see [[qRouge]]'s scale note), nothing broadcasts. Work ∝ Σ tokens
    * at any corpus size.
    */
  val qBleu = Q(
    "q_bleu",
    (s, d) => {
      val docs = documents(s, d)
      val toks = wordToks(docs)
      pairClips(nextDocs(docs, 1), gramCounts(toks, wordGrams), Seq("clip1" -> 1, "clip2" -> 2),
        wordLens(toks), Seq("n1" -> "n1_cand", "n2" -> "n2_cand"), Seq("n1" -> "n1_ref"))
        .select((Seq("cand_id", "ref_id", "clip1", "clip2", "n1_cand", "n2_cand", "n1_ref")
          .map(col) ++ bleuCols("n1_ref")): _*)
        .orderBy("cand_id")
    },
    Some(s"""WITH toks AS (
              SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            lens AS (
              SELECT doc_id, CAST(len(w) AS BIGINT) AS n1,
                     CAST(greatest(len(w) - 1, 0) AS BIGINT) AS n2
              FROM toks),
            pairs AS (
              SELECT doc_id AS cand_id,
                     lead(doc_id) OVER (PARTITION BY source ORDER BY doc_id) AS ref_id
              FROM documents),
            live AS (SELECT * FROM pairs WHERE ref_id IS NOT NULL),
            grams AS (
              SELECT doc_id, 1 AS n, unnest(w) AS gram FROM toks
              UNION ALL
              SELECT doc_id, 2 AS n,
                     unnest($wordBigramsSql) AS gram
              FROM toks WHERE len(w) >= 2),
            gc AS (
              SELECT doc_id, n, gram, CAST(count(*) AS BIGINT) AS c
              FROM grams GROUP BY doc_id, n, gram),
            clip AS (
              SELECT p.cand_id, p.ref_id,
                     CAST(sum(CASE WHEN a.n = 1 THEN least(a.c, b.c) ELSE 0 END) AS BIGINT) AS clip1,
                     CAST(sum(CASE WHEN a.n = 2 THEN least(a.c, b.c) ELSE 0 END) AS BIGINT) AS clip2
              FROM live p
              JOIN gc a ON a.doc_id = p.cand_id
              JOIN gc b ON b.doc_id = p.ref_id AND b.n = a.n AND b.gram = a.gram
              GROUP BY p.cand_id, p.ref_id)
            SELECT p.cand_id AS cand_id, p.ref_id AS ref_id,
                   COALESCE(c.clip1, 0) AS clip1, COALESCE(c.clip2, 0) AS clip2,
                   la.n1 AS n1_cand, la.n2 AS n2_cand, lb.n1 AS n1_ref,
                   round(CAST(COALESCE(c.clip1, 0) AS DOUBLE) / CAST(la.n1 AS DOUBLE), 6) AS p1,
                   round(CAST(COALESCE(c.clip2, 0) AS DOUBLE)
                         / CAST(nullif(la.n2, 0) AS DOUBLE), 6) AS p2,
                   round(sqrt(CAST(COALESCE(c.clip1, 0) * COALESCE(c.clip2, 0) AS DOUBLE)
                         / CAST(nullif(la.n1 * la.n2, 0) AS DOUBLE)), 6) AS bleu2,
                   round(CAST(la.n1 AS DOUBLE) / CAST(lb.n1 AS DOUBLE), 6) AS len_ratio
            FROM live p
            LEFT JOIN clip c ON c.cand_id = p.cand_id AND c.ref_id = p.ref_id
            JOIN lens la ON la.doc_id = p.cand_id
            JOIN lens lb ON lb.doc_id = p.ref_id
            ORDER BY cand_id""")
  )

  /** MULTI-REFERENCE BLEU-2 (r11) — Papineni's ACTUAL clip definition,
    * of which [[qBleu]]'s 1-reference pairing is the degenerate case:
    * each candidate scores against a reference SET (here the next
    * k ≤ 3 docs of its source by id — the same fixture pairing device;
    * a production eval swaps in its own (cand, ref) table and the
    * algebra is unchanged), and a gram's credit is
    * clip_g = min(tf_cand(g), MAX over refs tf_ref(g)) — a candidate
    * phrase counts if ANY reference supports it at that multiplicity.
    * Also emits the multi-reference brevity pieces: r_eff = the
    * reference length CLOSEST to the candidate's, ties to the SHORTER
    * (the original BLEU convention), selected as ONE packed-BIGINT min
    * `|n1_ref − n1_cand|·10⁹ + n1_ref` — the q_preference_pairs
    * packed-order idiom (sound while doc lengths < 10⁹ tokens) — and
    * `len_ratio = n1_cand / r_eff` for the consumer's one-op
    * exp(1 − 1/len_ratio) brevity fold.
    *
    * Exactness: clips, lengths, n_refs, r_eff are exact BIGINTs;
    * p1/p2/bleu2 keep [[qBleu]]'s one-division + IEEE-exact-sqrt
    * discipline; round(,6) once per emitted double.
    *
    * Scale shape: the [[qBleu]] gram machinery UNCHANGED (ONE union'd
    * tagged explode, ONE map-side-combined (doc, n, gram) count
    * aggregate); the clip join gains the ref-SET key — refs ⋈ gc keyed
    * on ref_id fans a gram by the candidate's reference multiplicity
    * (k ≤ 3), never corpus frequency, and the per-candidate MAX
    * (map-side-combined) collapses the set back to ONE row per
    * (cand, n, gram) BEFORE the clip join, whose two sides are then
    * both unique per key. Every corpus-scale side SORT-MERGE joined
    * (the sf10 hash-build OOM rule), nothing broadcasts. Work ∝
    * k·Σ tokens at any corpus size.
    */
  val qBleuMulti = Q(
    "q_bleu_multi",
    (s, d) => {
      val docs = documents(s, d)
      val toks = wordToks(docs)
      val lens = wordLens(toks)
      val refs = nextDocs(docs, 3)
      val gc = gramCounts(toks, wordGrams)
      // the per-candidate MAX over its refs collapses the ref set to ONE
      // row per (cand, n, gram) before the clip join
      val refmax = refs.hint("merge")
        .join(gc.select(col("doc_id").as("ref_id"), col("n"), col("gram"),
          col("c")).hint("merge"), "ref_id")
        .groupBy("cand_id", "n", "gram").agg(max(col("c")).as("c_ref"))
      val clip = clipJoin(gc.withColumnRenamed("doc_id", "cand_id"), refmax,
        Seq("cand_id", "n", "gram"), Seq("cand_id"), Seq("clip1" -> 1, "clip2" -> 2))
      val reff = refs.hint("merge")
        .join(lens.select(col("doc_id").as("ref_id"), col("n1").as("n1_ref"))
          .hint("merge"), "ref_id")
        .hint("merge")
        .join(lens.select(col("doc_id").as("cand_id"), col("n1").as("n1_cand"))
          .hint("merge"), "cand_id")
        .groupBy("cand_id")
        .agg(count(lit(1)).as("n_refs"),
          min(abs(col("n1_ref") - col("n1_cand")) * lit(1000000000L) + col("n1_ref"))
            .as("packed"))
        .select(col("cand_id"), col("n_refs"),
          (col("packed") % lit(1000000000L)).as("r_eff"))
      reff.hint("merge")
        .join(clip.hint("merge"), Seq("cand_id"), "left")
        .na.fill(0L, Seq("clip1", "clip2"))
        .hint("merge")
        .join(lens.select(col("doc_id").as("cand_id"), col("n1").as("n1_cand"),
          col("n2").as("n2_cand")).hint("merge"), "cand_id")
        .select((Seq("cand_id", "n_refs", "clip1", "clip2", "n1_cand", "n2_cand", "r_eff")
          .map(col) ++ bleuCols("r_eff")): _*)
        .orderBy("cand_id")
    },
    Some(s"""WITH toks AS (
              SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            lens AS (
              SELECT doc_id, CAST(len(w) AS BIGINT) AS n1,
                     CAST(greatest(len(w) - 1, 0) AS BIGINT) AS n2
              FROM toks),
            nx AS (
              SELECT doc_id AS cand_id,
                     lead(doc_id, 1) OVER (PARTITION BY source ORDER BY doc_id) AS r1,
                     lead(doc_id, 2) OVER (PARTITION BY source ORDER BY doc_id) AS r2,
                     lead(doc_id, 3) OVER (PARTITION BY source ORDER BY doc_id) AS r3
              FROM documents),
            refs AS (
              SELECT cand_id, r AS ref_id
              FROM (SELECT cand_id, unnest([r1, r2, r3]) AS r FROM nx)
              WHERE r IS NOT NULL),
            grams AS (
              SELECT doc_id, 1 AS n, unnest(w) AS gram FROM toks
              UNION ALL
              SELECT doc_id, 2 AS n,
                     unnest($wordBigramsSql) AS gram
              FROM toks WHERE len(w) >= 2),
            gc AS (
              SELECT doc_id, n, gram, CAST(count(*) AS BIGINT) AS c
              FROM grams GROUP BY doc_id, n, gram),
            refmax AS (
              SELECT r.cand_id, g.n, g.gram, max(g.c) AS c_ref
              FROM refs r JOIN gc g ON g.doc_id = r.ref_id
              GROUP BY r.cand_id, g.n, g.gram),
            clip AS (
              SELECT a.doc_id AS cand_id,
                     CAST(sum(CASE WHEN a.n = 1 THEN least(a.c, m.c_ref) ELSE 0 END) AS BIGINT) AS clip1,
                     CAST(sum(CASE WHEN a.n = 2 THEN least(a.c, m.c_ref) ELSE 0 END) AS BIGINT) AS clip2
              FROM gc a
              JOIN refmax m ON m.cand_id = a.doc_id AND m.n = a.n AND m.gram = a.gram
              GROUP BY a.doc_id),
            reff AS (
              SELECT r.cand_id, CAST(count(*) AS BIGINT) AS n_refs,
                     min(abs(lr.n1 - lc.n1) * 1000000000 + lr.n1) % 1000000000 AS r_eff
              FROM refs r
              JOIN lens lr ON lr.doc_id = r.ref_id
              JOIN lens lc ON lc.doc_id = r.cand_id
              GROUP BY r.cand_id)
            SELECT e.cand_id AS cand_id, e.n_refs AS n_refs,
                   COALESCE(c.clip1, 0) AS clip1, COALESCE(c.clip2, 0) AS clip2,
                   lc.n1 AS n1_cand, lc.n2 AS n2_cand, e.r_eff AS r_eff,
                   round(CAST(COALESCE(c.clip1, 0) AS DOUBLE) / CAST(lc.n1 AS DOUBLE), 6) AS p1,
                   round(CAST(COALESCE(c.clip2, 0) AS DOUBLE)
                         / CAST(nullif(lc.n2, 0) AS DOUBLE), 6) AS p2,
                   round(sqrt(CAST(COALESCE(c.clip1, 0) * COALESCE(c.clip2, 0) AS DOUBLE)
                         / CAST(nullif(lc.n1 * lc.n2, 0) AS DOUBLE)), 6) AS bleu2,
                   round(CAST(lc.n1 AS DOUBLE) / CAST(e.r_eff AS DOUBLE), 6) AS len_ratio
            FROM reff e
            LEFT JOIN clip c ON c.cand_id = e.cand_id
            JOIN lens lc ON lc.doc_id = e.cand_id
            ORDER BY cand_id""")
  )

  /** MULTI-REFERENCE ROUGE-1 (r11) — Lin 2004's multi-reference
    * convention, the complement of [[qBleuMulti]]'s gram-level max:
    * ROUGE scores each (candidate, reference) PAIR with the [[qRouge]]
    * clipped-overlap algebra, then takes the BEST pair per candidate
    * (max F1; ties to the lower ref_id) — "a candidate is as good as
    * its best reference agreement". Ref set = the next k ≤ 3 docs of
    * the candidate's source (the shared fixture pairing device).
    *
    * Selection is exact: pairwise f1 = 2·clip/(n_cand+n_ref) compares
    * as the INTEGER cross-product 2·clip_a·(n_c+n_r_b) vs
    * 2·clip_b·(n_c+n_r_a) — the argmax is ONE packed decision per
    * candidate via a (f1-order, ref_id asc) row_number window the
    * optimizer rewrites to WindowGroupLimit; no float enters the
    * ordering (the emitted p/r/f1 doubles are computed once, after
    * selection). Clip/lengths stay exact BIGINTs.
    *
    * Scale shape: [[qRouge]]'s — ONE map-side-combined (doc, token)
    * count aggregate; the clip join keys on (ref_id, tok) and fans a
    * hot token by the candidate's reference multiplicity (k ≤ 3),
    * never corpus frequency; every corpus-scale side SORT-MERGE; the
    * best-pair window moves ≤ k rows per candidate. Work ∝ k·Σ tokens.
    */
  val qRougeMulti = Q(
    "q_rouge_multi",
    (s, d) => {
      val docs = documents(s, d)
      val toks = wordToks(docs)
      val scored = pairClips(nextDocs(docs, 3), gramCounts(toks, wordGrams.take(1)),
        Seq("clip" -> 1), wordLens(toks), Seq("n1" -> "n_cand"), Seq("n1" -> "n_ref"))
      // best pair per candidate: f1 DESC compared exactly by integer
      // cross-product — f1_a > f1_b  ⇔  clip_a·(n_c+n_r_b) > clip_b·(n_c+n_r_a)
      // — which a single ORDER BY cannot express pairwise, so order by
      // the equivalent exact rational clip/(n_cand+n_ref) lifted to a
      // common-denominator-free DECIMAL division is avoided entirely:
      // (clip · 10^12) / (n_cand + n_ref) as an integer DIV is
      // order-preserving to 10^-12 — far below any distinct f1 gap of
      // two BIGINT rationals with denominators ≤ 2·10^5 tokens here
      // (distinct f1 values differ by ≥ 1/(den_a·den_b); the guard
      // below enforces the bound so ties remain EXACT ties).
      val bw = Window.partitionBy("cand_id")
        .orderBy(col("f1key").desc, col("ref_id").asc)
      scored
        .withColumn("den", col("n_cand") + col("n_ref"))
        // the bound guard lives INSIDE the key's divisor (the
        // q_preference_pairs idiom) so column pruning can never
        // silently drop it
        .withColumn("f1key",
          (col("clip").cast("decimal(38,0)") * lit(1000000000000L)
            / when(col("den") <= lit(1000000L), col("den"))
                .otherwise(raise_error(
                  lit("q_rouge_multi: combined doc length exceeds the exact-f1-key bound 10^6"))
                  .cast("long"))
                .cast("decimal(38,0)")).cast("decimal(38,0)"))
        .withColumn("rn", row_number().over(bw))
        .where(col("rn") === 1)
        .select((Seq(col("cand_id"), col("ref_id").as("best_ref"), col("clip"),
          col("n_cand"), col("n_ref")) ++ prf("clip")): _*)
        .orderBy("cand_id")
    },
    Some("""WITH lens AS (
              SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
              FROM documents),
            nx AS (
              SELECT doc_id AS cand_id,
                     lead(doc_id, 1) OVER (PARTITION BY source ORDER BY doc_id) AS r1,
                     lead(doc_id, 2) OVER (PARTITION BY source ORDER BY doc_id) AS r2,
                     lead(doc_id, 3) OVER (PARTITION BY source ORDER BY doc_id) AS r3
              FROM documents),
            refs AS (
              SELECT cand_id, r AS ref_id
              FROM (SELECT cand_id, unnest([r1, r2, r3]) AS r FROM nx)
              WHERE r IS NOT NULL),
            tc AS (
              SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
              FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                    FROM documents)
              GROUP BY doc_id, tok),
            clip AS (
              SELECT p.cand_id, p.ref_id,
                     CAST(sum(least(a.c, b.c)) AS BIGINT) AS clip
              FROM refs p
              JOIN tc a ON a.doc_id = p.cand_id
              JOIN tc b ON b.doc_id = p.ref_id AND b.tok = a.tok
              GROUP BY p.cand_id, p.ref_id),
            scored AS (
              SELECT p.cand_id, p.ref_id, COALESCE(c.clip, 0) AS clip,
                     la.n_toks AS n_cand, lb.n_toks AS n_ref,
                     la.n_toks + lb.n_toks AS den,
                     CAST(CAST(COALESCE(c.clip, 0) AS HUGEINT) * 1000000000000
                          // (CASE WHEN la.n_toks + lb.n_toks <= 1000000
                                THEN la.n_toks + lb.n_toks
                                ELSE CAST(error('q_rouge_multi: combined doc length exceeds the exact-f1-key bound 10^6') AS BIGINT)
                                END) AS HUGEINT) AS f1key
              FROM refs p
              LEFT JOIN clip c ON c.cand_id = p.cand_id AND c.ref_id = p.ref_id
              JOIN lens la ON la.doc_id = p.cand_id
              JOIN lens lb ON lb.doc_id = p.ref_id),
            best AS (
              SELECT *, row_number() OVER (PARTITION BY cand_id
                                           ORDER BY f1key DESC, ref_id ASC) AS rn
              FROM scored)
            SELECT cand_id, ref_id AS best_ref, clip, n_cand, n_ref,
                   round(CAST(clip AS DOUBLE) / CAST(n_cand AS DOUBLE), 6) AS p,
                   round(CAST(clip AS DOUBLE) / CAST(n_ref AS DOUBLE), 6) AS r,
                   round(2 * CAST(clip AS DOUBLE) / CAST(den AS DOUBLE), 6) AS f1
            FROM best WHERE rn = 1
            ORDER BY cand_id""")
  )

  /** Fold N existing segments into ONE by pure index algebra (see
    * [[qBm25Merge]]), generalized to any source count (a merged
    * segment is itself a legal merge input — df/n_docs/Σdl stay
    * additive monoids over the still-disjoint doc sets): postings
    * CONCATENATE, dict dfs SUM, corpus constants SUM. Cost ∝ index
    * size of the inputs; the corpus is never touched. Shared by
    * [[mergedSegmentLayout]] (one pairwise merge) and
    * [[tieredIndexLayout]] (the policy's every step).
    */
  private def writeMergedSegment(s: org.apache.spark.sql.SparkSession,
      srcs: Seq[String], dir: String): Unit = {
    def u(p: String) =
      srcs.map(sd => s.read.parquet(s"$sd/$p")).reduce(_ unionAll _)
    u("postings.parquet")
      .write.mode("overwrite").parquet(s"$dir/postings.parquet")
    u("dict.parquet")
      .groupBy("term").agg(sum("df").as("df"))
      .write.mode("overwrite").parquet(s"$dir/dict.parquet")
    u("stats.parquet")
      .agg(sum("n_docs").as("n_docs"), sum("sum_dl").as("sum_dl"))
      .write.mode("overwrite").parquet(s"$dir/stats.parquet")
  }

  def mergedSegmentLayout(s: org.apache.spark.sql.SparkSession, d: String): String = {
    val segs = segmentedIndexLayout(s, d)
    Staged.layout(s, "bm25_merged", docsSrc(d)) { tmp =>
      writeMergedSegment(s, Seq(s"$segs/seg_a", s"$segs/seg_b"), tmp)
    }
  }

  /** SEGMENT MERGE (r10) — the index-MAINTENANCE op that keeps the
    * segmented model honest (VERDICT r9 #3, the q_dv_compact
    * debt-payment pattern): [[segmentedIndexLayout]] lets a batch be
    * absorbed as one new segment forever, but probe cost grows with
    * segment count — Lucene bounds it with a MERGE POLICY, and this is
    * that merge. seg_a + seg_b fold into ONE segment by pure INDEX
    * algebra, never re-scanning the corpus:
    *
    *  - postings: CONCATENATION — segments partition the corpus by
    *    doc, so the (term, doc) posting sets are disjoint and the
    *    merged posting list is the plain union (tf and the
    *    denormalized dl ride along unchanged);
    *  - dict: per-term df SUMMED across segment dicts (df is an
    *    additive monoid over disjoint doc sets);
    *  - stats: n_docs / Σdl summed.
    *
    * Merge cost ∝ index size (the postings concat), NOT corpus size —
    * at 100 TB the merge reads/writes the index files only, the same
    * economics as Lucene's tiered merges. Published content-keyed via
    * the atomic whole-layout rename, like every layout here.
    *
    * The declared query probes the MERGED segment through the
    * ONE index probe ([[probeIndex]]) as q_bm25_postings and carries
    * [[bm25PostingsOracle]] VERBATIM — the hash match proves
    * merge(seg_a, seg_b) ≡ the whole-corpus index ≡ the full scan,
    * closing the lifecycle: build segments ∝ batch, probe N segments
    * exactly, merge back to one and probe THAT exactly.
    * TextOpsSpec additionally proves row-level layout equality (every
    * posting/dict/stats row of the merged segment equals the
    * single-build [[invertedIndexLayout]]).
    */
  val qBm25Merge = Q(
    "q_bm25_merge",
    (s, d) => probeIndex(s, Seq(mergedSegmentLayout(s, d))),
    Some(bm25PostingsOracle)
  )

  /** Six-segment index layout with UNEVEN sizes (≈ 1,1,1,2,4,7
    * sixteenths of the corpus, by doc_id % 16 ranges) — the mid-life
    * state of a segmented index that has absorbed batches of varying
    * size, i.e. the input a merge POLICY exists to clean up. Built by
    * [[segmentsLayout]], like [[segmentedIndexLayout]].
    */
  private[ops] val multiSegRanges: Seq[(String, Int, Int)] = Seq(
    ("seg_00", 0, 0), ("seg_01", 1, 1), ("seg_02", 2, 2),
    ("seg_03", 3, 4), ("seg_04", 5, 8), ("seg_05", 9, 15))

  def multiSegmentIndexLayout(s: org.apache.spark.sql.SparkSession, d: String): String =
    segmentsLayout(s, d, "bm25_multi", multiSegRanges.map { case (seg, lo, hi) =>
      seg -> (col("doc_id") % 16 >= lo && col("doc_id") % 16 <= hi)
    })

  /** TIERED MERGE POLICY (r11, VERDICT r10 next #6) — the DECISION
    * layer over the proven merge algebra: [[qBm25Merge]] proved ONE
    * pairwise merge is exact; this is the Lucene-style size-tiered
    * maintenance loop that decides WHICH segments to merge. Given the
    * [[multiSegmentIndexLayout]]'s uneven segments, repeatedly fold
    * the two SMALLEST live segments (ties by name; the classic
    * log-merge shape — a posting is only ever re-copied into a
    * segment ≥ its previous home's size, so total policy work is
    * O(N log N) postings) until at most [[TieredK]] segments remain.
    * Survivors publish as `final_i` (largest first; a surviving
    * ORIGINAL segment is copy-promoted into the layout — Lucene's
    * addIndexes copy — so the probe never reads outside the published
    * dir), plus `merge_log.parquet` recording every decision
    * (gen, left, right, input sizes) — the audit trail TextOpsSpec
    * replays to prove each step chose the two smallest then-live
    * segments. An intermediate merge (`m<gen>`) that a later step
    * folds again is deleted once consumed, so the published layout
    * holds only `final_i` and the log. Driver work is
    * |segments| one-row stats reads + the loop counter; every data
    * move is a distributed index-algebra merge: cost ∝ index size, the
    * corpus is never re-scanned.
    */
  val TieredK = 2

  def tieredIndexLayout(s: org.apache.spark.sql.SparkSession, d: String): String = {
    val multi = multiSegmentIndexLayout(s, d)
    Staged.layout(s, "bm25_tiered", docsSrc(d)) { tmp =>
      def nDocs(dir: String): Long =
        s.read.parquet(s"$dir/stats.parquet").head().getAs[Long]("n_docs")
      val fs = new org.apache.hadoop.fs.Path(tmp)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      var live = multiSegRanges.map { case (seg, _, _) =>
        (s"$multi/$seg", seg, nDocs(s"$multi/$seg"))
      }.toVector
      val log = Vector.newBuilder[(Int, String, String, Long, Long)]
      var gen = 0
      while (live.size > TieredK) {
        val sorted = live.sortBy { case (_, name, n) => (n, name) }
        val a = sorted(0); val b = sorted(1)
        val name = s"m$gen"
        writeMergedSegment(s, Seq(a._1, b._1), s"$tmp/$name")
        // a consumed intermediate merge is dead data in the layout
        Seq(a._1, b._1).filter(_.startsWith(tmp))
          .foreach(dir => fs.delete(new org.apache.hadoop.fs.Path(dir), true))
        log += ((gen, a._2, b._2, a._3, b._3))
        live = sorted.drop(2) :+ ((s"$tmp/$name", name, a._3 + b._3))
        gen += 1
      }
      live.sortBy { case (_, name, n) => (-n, name) }.zipWithIndex.foreach {
        case ((dir, _, _), i) =>
          if (dir.startsWith(tmp))
            fs.rename(new org.apache.hadoop.fs.Path(dir),
              new org.apache.hadoop.fs.Path(s"$tmp/final_$i"))
          else writeMergedSegment(s, Seq(dir), s"$tmp/final_$i")
      }
      import s.implicits._
      log.result().toDF("gen", "left", "right", "left_docs", "right_docs")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/merge_log.parquet")
    }
  }

  /** Post-policy retrieval: probe the [[TieredK]] `final_i` segments
    * through THE index probe ([[probeIndex]]), carrying
    * [[bm25PostingsOracle]] VERBATIM — the hash match proves
    * policy(6 uneven segments) ≡ the whole-corpus index ≡ the full
    * scan. Probe cost is bounded by K segments whatever the absorb
    * history was — the exact property a merge policy buys.
    */
  val qBm25Tiered = Q(
    "q_bm25_tiered",
    (s, d) => {
      val ix = tieredIndexLayout(s, d)
      probeIndex(s, (0 until TieredK).map(i => s"$ix/final_$i"))
    },
    Some(bm25PostingsOracle)
  )

  /** HARD-NEGATIVE MINING (r9) — the contrastive-retriever training
    * stage between retrieval (q_bm25*) and pairing (q_preference_pairs /
    * q_negative_sampling): for every query document, the most
    * LEXICALLY-SIMILAR documents from OTHER sources — near-misses that
    * share rare surface text with the query but are not its gold
    * positives (same-source docs stand in for gold and are excluded) —
    * the negatives that actually teach a dense retriever, vs
    * q_negative_sampling's uniform draws.
    *
    * Mechanism: distinct 3-shingles per doc (the WordShingles codegen
    * map side every dedup shuffle uses), HOT-SHINGLE CAP df ≤ 64 (the
    * q_dedup_ngram hot-bucket discipline, enforced in the plan, not
    * prose: a boilerplate 3-gram — "terms of service" — has df ∝
    * corpus and would quadratically fan the join; a shingle that
    * common carries no retrieval signal anyway, exactly WAND's
    * stop-term argument), queries = `doc_id % 97 = 0`, ONE
    * shingle-keyed equi-join (corpus-scale on both sides — never a
    * broadcast, never a cartesian), exact integer score = |shared
    * rare shingles|, per-query top-3 via a rank window the optimizer
    * rewrites to WindowGroupLimit.
    *
    * Scale: candidates ∝ Σ_probe-shingle min(df, 64) — bounded at
    * 64·|query shingles| per query at ANY corpus size; the df
    * aggregate's shingle partitioning is co-located with the cap join
    * and the match join. Map-side-combined (q, neg) count, ≤3 rows
    * per query cross the final exchange. (At the test fixtures max
    * 3-gram df is 9, so the cap provably never changes results there
    * — both dialects carry it, so the oracle verifies the capped
    * semantics.)
    *
    * The [[Materialize]]d shingle explode is the suite's LARGEST
    * intermediate (∝ Σ shingles): under the default localCheckpoint it
    * is executor-memory+disk resident with truncated lineage, so a
    * scale run (where an executor loss is a when, not an if) MUST set
    * `spark.graft.checkpoint.reliable=true` + a checkpoint dir — the
    * [[Materialize]] switch persists each site to fault-tolerant
    * storage instead.
    */
  val qHardNegatives = Q(
    "q_hard_negatives",
    (s, d) => {
      // the corpus-scale shingle explode runs ONCE and checkpoints (the
      // kmvSketch idiom): its three consumers — the df aggregate and
      // BOTH sides of the match join — scan the checkpoint instead of
      // re-evaluating the explode per consumer (VERDICT r9 #2)
      val sh0 = Materialize(fanOut(documents(s, d))
        .select(col("doc_id"), col("source"),
          explode(graft.functions.TextHash.shingles(col("text"), 3)).as("sh")))
      val rare = sh0.groupBy("sh").agg(count(lit(1)).as("df"))
        .where(col("df") <= 64).select("sh")
      // BOTH sides corpus-scale (the explode and the rare-shingle list
    // both grow ∝ corpus): SORT-MERGE, never a hash build — the r12
    // full-sf10 ledger caught the earlier shuffle_hash hint building a
    // 45M-gram hash side and OOMing (the r10 q_bleu class)
    val sh = sh0.hint("merge").join(rare, "sh")
      val qs = sh.where(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("q_id"), col("source").as("q_src"),
          col("sh"))
      val w = Window.partitionBy("q_id")
        .orderBy(col("n_shared").desc, col("neg_id").asc)
      qs.hint("shuffle_hash")
        .join(sh, "sh")
        .where(col("doc_id") =!= col("q_id") && col("source") =!= col("q_src"))
        .groupBy(col("q_id"), col("doc_id").as("neg_id"))
        .agg(count(lit(1)).as("n_shared"))
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= 3)
        .orderBy("q_id", "rank")
    },
    Some("""WITH toks AS (
              SELECT doc_id, source, string_split(text, ' ') AS w
              FROM documents WHERE len(string_split(text, ' ')) >= 3),
            sh0 AS (
              SELECT DISTINCT doc_id, source,
                     unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                           for i in range(1, len(w) - 1)])) AS s
              FROM toks),
            rare AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) <= 64),
            sh AS (SELECT sh0.* FROM sh0 JOIN rare USING (s)),
            cand AS (
              SELECT q.doc_id AS q_id, c.doc_id AS neg_id,
                     CAST(count(*) AS BIGINT) AS n_shared
              FROM sh q JOIN sh c ON q.s = c.s
               AND c.doc_id <> q.doc_id AND c.source <> q.source
              WHERE q.doc_id % 97 = 0
              GROUP BY q.doc_id, c.doc_id),
            ranked AS (
              SELECT *, CAST(row_number() OVER (PARTITION BY q_id
                               ORDER BY n_shared DESC, neg_id) AS INTEGER) AS rank
              FROM cand)
            SELECT q_id, neg_id, n_shared, rank
            FROM ranked WHERE rank <= 3
            ORDER BY q_id, rank""")
  )

  /** SPAN CORRUPTION (r9) — the T5/UL2 denoising-objective example
    * builder: mask fixed-grid token spans and emit the (corrupted
    * input, sentinel-delimited targets) pair every encoder-decoder
    * pretraining batch consumes. Deterministic T5-style grid instead
    * of T5's RNG (the E16 reproducibility rule): position p of a doc
    * is masked iff `(p + off) mod 7 < 3` with the per-doc phase
    * `off = knuth(doc_id) mod 7` — 3-token spans on a period-7 grid
    * (≈43% corruption), overlap-free by construction, span index
    * `k = (p + off) div 7` so each span's sentinel `<X_k>` is stable
    * under any engine, order, or subset.
    *
    * Corrupted side: unmasked tokens in order, each span collapsed to
    * its sentinel at the span's FIRST masked position; target side:
    * each sentinel followed by the span's tokens. n_masked audits the
    * corruption rate. All integer/string ops, one formula text in
    * both dialects.
    *
    * Scale shape: a pure per-row projection over the scan — no
    * shuffle, no state, no vocabulary; the only exchange is the
    * output sort. Since r10 the projection is ONE native codegen call
    * ([[graft.functions.SpanCorrupt]] — the WordShingles precedent the
    * r9 scaladoc promised): the r9 transform/flatten HOF chain was
    * CodegenFallback and interpreted three boxed trees per document;
    * the compiled pass tokenizes once and emits the whole struct.
    * FunctionsSpec pins bit-equality against the HOF formulation; the
    * oracle is unchanged.
    */
  val qSpanCorruption = Q(
    "q_span_corruption",
    (s, d) =>
      documents(s, d)
        .select(col("doc_id"),
          graft.functions.TextHash.spanCorrupt(
            col("text"),
            pmod(pmod(col("doc_id"), lit(2147483647L)) * lit(2654435761L),
              lit(4294967296L)).mod(lit(7L))).as("sc"))
        .select(col("doc_id"),
          col("sc.n_masked").as("n_masked"),
          col("sc.corrupted").as("corrupted"),
          col("sc.targets").as("targets"))
        .orderBy("doc_id"),
    Some("""WITH b AS (
              SELECT doc_id, string_split(text, ' ') AS w,
                     (doc_id % 2147483647 * 2654435761) % 4294967296 % 7 AS off
              FROM documents)
            SELECT doc_id,
                   CAST(len(list_filter(range(0, len(w)), p -> (p + off) % 7 < 3))
                        AS BIGINT) AS n_masked,
                   COALESCE(list_aggregate(flatten(list_transform(range(0, len(w)),
                     p -> CASE
                       WHEN (p + off) % 7 >= 3 THEN [w[p + 1]]
                       WHEN (p + off) % 7 = 0 OR p = 0
                         THEN ['<X' || CAST((p + off) // 7 AS VARCHAR) || '>']
                       ELSE []
                     END)), 'string_agg', ' '), '') AS corrupted,
                   COALESCE(list_aggregate(flatten(list_transform(range(0, len(w)),
                     p -> CASE
                       WHEN (p + off) % 7 >= 3 THEN []
                       WHEN (p + off) % 7 = 0 OR p = 0
                         THEN ['<X' || CAST((p + off) // 7 AS VARCHAR) || '>', w[p + 1]]
                       ELSE [w[p + 1]]
                     END)), 'string_agg', ' '), '') AS targets
            FROM b ORDER BY doc_id""")
  )

  /** RETRIEVE-THEN-RERANK (r9) — the two-stage serving composition
    * every production retrieval stack runs: a cheap high-recall
    * retriever (the declared q_bm25, SHARED code path via
    * [[bm25Scored]]) funnels the corpus to 20 candidates, then an
    * expensive model (the declared q_mlp_score integer MLP, SHARED via
    * Quality.mlpScored) re-scores ONLY those candidates and keeps the
    * top-5 by (quality, relevance). Both stages being declared,
    * hash-verified operators makes the composition's oracle exact.
    *
    * Scale shape — the serving economics the pattern exists for:
    * retrieval is q_bm25's scan + 1-row stats broadcast + top-20
    * TakeOrderedAndProject; the 20-row candidate set Materializes and
    * BROADCASTS into the documents scan (a k-row build side — the one
    * legitimately-broadcast join in the retrieval family), so the
    * reranker's explode + 8-sum aggregate touches 20 documents at ANY
    * corpus size. Rerank cost ∝ k, never ∝ corpus.
    */
  val qRerank = Q(
    "q_rerank",
    (s, d) => {
      val cands = Materialize(
        bm25Scored(s, d)
          .orderBy(desc("score"), col("doc_id"))
          .limit(20)
          .select(col("doc_id"), round(col("score"), 6).as("bm25")))
      val rescored = Quality.mlpScored(
        documents(s, d).join(broadcast(cands.select("doc_id")), "doc_id")
          .select(col("doc_id"), col("text")))
      cands.join(rescored, "doc_id")
        .select(col("doc_id"), col("bm25"), col("mlp_score"))
        .orderBy(col("mlp_score").desc, col("bm25").desc, col("doc_id"))
        .limit(5)
    },
    Some {
      s"""WITH $bm25OracleCte,
            scored AS (
              SELECT doc_id, $bm25ScoreSql AS score
              FROM base, stats),
            cands AS (
              SELECT doc_id, round(score, 6) AS bm25
              FROM scored ORDER BY score DESC, doc_id LIMIT 20),
            toks AS (
              SELECT c.doc_id, c.bm25,
                     ('0x' || substr(md5(term), 1, 4))::BIGINT % 64 AS b
              FROM cands c JOIN (
                SELECT doc_id, unnest(string_split(text, ' ')) AS term
                FROM documents) t ON c.doc_id = t.doc_id),
            f AS (SELECT doc_id, bm25,
                   ${Quality.mlpSumsSql}
                  FROM toks GROUP BY doc_id, bm25)
            SELECT doc_id, bm25, CAST(${Quality.mlpScoreSql} AS BIGINT) AS mlp_score
            FROM f
            ORDER BY mlp_score DESC, bm25 DESC, doc_id LIMIT 5"""
    }
  )

  /** The chrF dataflow, factored over an optional pair SAMPLE so the
    * production-cost variant ([[qChrfSampled]]) shares the ALGEBRA
    * verbatim — the two queries differ only in which pair universe they
    * score. When sampled, the char-gram explosion (the metric's
    * dominant cost, ∝ Σ chars) is ALSO restricted by a semi-join to the
    * sampled pairs' documents, so engine work is ∝ sample — the cost
    * lever the variant exists for; the pairing window itself stays
    * corpus-wide (ref assignment must see every doc) but moves only
    * (source, doc_id) pairs, never text.
    */
  private def chrfFrame(s: org.apache.spark.sql.SparkSession, d: String,
      sampled: Boolean): DataFrame = {
    val docs = documents(s, d)
    val pairsAll = nextDocs(docs, 1)
    // exact Knuth-hash membership (the q_sample_hash discipline, own
    // salt): deterministic, shuffle-free, identical in both dialects
    val pairs =
      if (sampled)
        pairsAll.where(expr(Sampling.bucketSql("cand_id", 313L, 100L)) < 10)
      else pairsAll
    val charsAll = docs.select(col("doc_id"), translate(col("text"), " ", "").as("t"))
    val chars =
      if (sampled) {
        val ids = pairs.select(col("cand_id").as("doc_id"))
          .unionAll(pairs.select(col("ref_id").as("doc_id"))).distinct()
        charsAll.hint("merge").join(ids.hint("merge"), Seq("doc_id"), "left_semi")
      } else charsAll
    val lens = chars.select(col("doc_id"),
      length(col("t")).cast("long").as("n1"),
      greatest(length(col("t")) - 1, lit(0)).cast("long").as("n2"))
    val charGrams = Seq(
      (1, length(col("t")) >= 1,
        expr("transform(sequence(1, length(t)), i -> substring(t, i, 1))")),
      (2, length(col("t")) >= 2,
        expr("transform(sequence(1, length(t) - 1), i -> substring(t, i, 2))")))
    val d1 = lit(4L) * col("nr1") + col("nc1")
    val d2 = lit(4L) * col("nr2") + col("nc2")
    pairClips(pairs, gramCounts(chars, charGrams), Seq("clip1" -> 1, "clip2" -> 2),
      lens, Seq("n1" -> "nc1", "n2" -> "nc2"), Seq("n1" -> "nr1", "n2" -> "nr2"))
      .select(col("cand_id"), col("ref_id"),
        col("clip1"), col("clip2"), col("nc1"), col("nc2"), col("nr1"), col("nr2"),
        round((lit(5L) * col("clip1")).cast("double")
          / nullif(d1, lit(0L)).cast("double"), 6).as("f1"),
        round((lit(5L) * col("clip2")).cast("double")
          / nullif(d2, lit(0L)).cast("double"), 6).as("f2"),
        round((lit(5L) * (col("clip1") * d2 + col("clip2") * d1)).cast("double")
          / nullif(lit(2L) * d1 * d2, lit(0L)).cast("double"), 6).as("chrf2"))
      .orderBy("cand_id")
  }

  /** The chrF oracle, parameterized by the same sample condition the
    * engine applies — everything else token-identical between the two
    * variants' oracles.
    */
  private def chrfOracleSql(sampled: Boolean): String = {
    val cond =
      if (sampled) s" AND ${Sampling.bucketSql("cand_id", 313L, 100L)} < 10" else ""
    s"""WITH ch AS (SELECT doc_id, replace(text, ' ', '') AS t FROM documents),
            lens AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n1,
                            CAST(greatest(len(t) - 1, 0) AS BIGINT) AS n2
                     FROM ch),
            pairs AS (
              SELECT doc_id AS cand_id,
                     lead(doc_id) OVER (PARTITION BY source ORDER BY doc_id) AS ref_id
              FROM documents),
            live AS (SELECT * FROM pairs WHERE ref_id IS NOT NULL$cond),
            grams AS (
              SELECT doc_id, 1 AS n, unnest([substr(t, i, 1) for i in range(1, len(t) + 1)]) AS gram
              FROM ch WHERE len(t) >= 1
              UNION ALL
              SELECT doc_id, 2 AS n, unnest([substr(t, i, 2) for i in range(1, len(t))]) AS gram
              FROM ch WHERE len(t) >= 2),
            gc AS (
              SELECT doc_id, n, gram, CAST(count(*) AS BIGINT) AS c
              FROM grams GROUP BY doc_id, n, gram),
            clip AS (
              SELECT p.cand_id, p.ref_id,
                     CAST(sum(CASE WHEN a.n = 1 THEN least(a.c, b.c) ELSE 0 END) AS BIGINT) AS clip1,
                     CAST(sum(CASE WHEN a.n = 2 THEN least(a.c, b.c) ELSE 0 END) AS BIGINT) AS clip2
              FROM live p
              JOIN gc a ON a.doc_id = p.cand_id
              JOIN gc b ON b.doc_id = p.ref_id AND b.n = a.n AND b.gram = a.gram
              GROUP BY p.cand_id, p.ref_id)
            SELECT p.cand_id AS cand_id, p.ref_id AS ref_id,
                   COALESCE(c.clip1, 0) AS clip1, COALESCE(c.clip2, 0) AS clip2,
                   la.n1 AS nc1, la.n2 AS nc2, lb.n1 AS nr1, lb.n2 AS nr2,
                   round(CAST(5 * COALESCE(c.clip1, 0) AS DOUBLE)
                         / CAST(nullif(4 * lb.n1 + la.n1, 0) AS DOUBLE), 6) AS f1,
                   round(CAST(5 * COALESCE(c.clip2, 0) AS DOUBLE)
                         / CAST(nullif(4 * lb.n2 + la.n2, 0) AS DOUBLE), 6) AS f2,
                   round(CAST(5 * (COALESCE(c.clip1, 0) * (4 * lb.n2 + la.n2)
                                   + COALESCE(c.clip2, 0) * (4 * lb.n1 + la.n1)) AS DOUBLE)
                         / CAST(nullif(2 * (4 * lb.n1 + la.n1) * (4 * lb.n2 + la.n2), 0)
                                AS DOUBLE), 6) AS chrf2
            FROM live p
            LEFT JOIN clip c ON c.cand_id = p.cand_id AND c.ref_id = p.ref_id
            JOIN lens la ON la.doc_id = p.cand_id
            JOIN lens lb ON lb.doc_id = p.ref_id
            ORDER BY cand_id"""
  }

  /** chrF (Popović 2015) — the CHARACTER-level member of the eval-metric
    * family: clipped char-n-gram F_β=2 over the [[qRouge]] pairing,
    * n = 1, 2, whitespace stripped (the chrF convention). Character
    * grams see sub-word overlap (morphology, typos, tokenizer-robust
    * similarity) that every word-gram metric above misses.
    *
    * Exactness: the β=2 F-score ALGEBRAICALLY REDUCES to one integer
    * division — F_n = (1+β²)·P·R/(β²·P+R) with P = clip/nc, R = clip/nr
    * simplifies to 5·clip_n/(4·nr_n + nc_n) — so each F is exact
    * BIGINTs under ONE IEEE division (the Q discipline), with no P/R
    * intermediate floats at all; the n-average
    * chrf2 = (F1+F2)/2 = 5·(clip1·D2 + clip2·D1)/(2·D1·D2),
    * D_n = 4·nr_n + nc_n, is likewise ONE division of exact integer
    * products (c·D < 2⁶³ to ~10⁸-char documents).
    *
    * Scale shape: the [[qBleu]] contract verbatim — ONE union'd tagged
    * (doc, n, gram) count with map-side combine (fan-out ∝ chars, the
    * honest cost of a char-level metric), clip join keyed
    * (ref_id, n, gram), every corpus-scale side SORT-MERGE (the sf10
    * hash-build OOM rule), per-pair sums map-side combined.
    */
  val qChrf = Q(
    "q_chrf",
    (s, d) => chrfFrame(s, d, sampled = false),
    Some(chrfOracleSql(sampled = false))
  )

  /** chrF, SAMPLED (r12 — VERDICT r11 #5): the documented cost lever
    * for the family's largest sf10 wall (81 s, linear-honest but 6× the
    * word-gram metrics — real eval harnesses score a sample). A
    * deterministic 10% of candidate pairs by exact Knuth-hash
    * membership (the q_sample_hash discipline, salt 313 keeping the
    * stream independent of every other sampling site) scores through
    * [[chrfFrame]]'s IDENTICAL algebra, and the oracle is
    * [[chrfOracleSql]] with the same one-line membership condition —
    * hash-verified on the sampled universe. Engine cost is ∝ sample:
    * the char-gram explosion and clip joins see only the sampled
    * pairs' documents (semi-join pushgate), so the sf10 wall drops
    * ~10× while the full q_chrf stays available as the exact anchor.
    */
  val qChrfSampled = Q(
    "q_chrf_sampled",
    (s, d) => chrfFrame(s, d, sampled = true),
    Some(chrfOracleSql(sampled = true))
  )

  /** DISTINCT-N corpus diversity (Li et al. 2016, "A Diversity-
    * Promoting Objective"): the fraction of DISTINCT uni/bigrams per
    * source — the standard audit for mode collapse in generated or
    * over-deduplicated corpora (a source whose distinct-2 craters is
    * emitting the same phrases over and over). The corpus-curation
    * complement of the per-doc [[qRepetition]] stats: repetition finds
    * degenerate DOCUMENTS, distinct-n finds degenerate SOURCES.
    *
    * Exactness: totals and distinct counts are exact BIGINTs from one
    * tagged (source, n, gram) count (distinct-count = the row count of
    * that aggregate — never an approximate sketch); each ratio is ONE
    * IEEE division, round(,6).
    *
    * Scale shape: ONE union'd tagged hash aggregate with map-side
    * combine (state ∝ |sources|·|vocab|, the q_lm_score vocab-table
    * bound) + ONE |sources×2|-row rollup — no join, no window, two
    * keyed exchanges total at any corpus size.
    */
  val qDistinctN = Q(
    "q_distinct_n",
    (s, d) => {
      val toks = Tables.fanOut(documents(s, d))
        .select(col("source"), split(col("text"), " ").as("w"))
      val g1 = toks.select(col("source"), lit(1).as("n"), explode(col("w")).as("gram"))
      val g2 = toks.where(size(col("w")) >= 2)
        .select(col("source"), lit(2).as("n"),
          explode(expr(wordBigramsExpr)).as("gram"))
      g1.unionByName(g2)
        .groupBy("source", "n", "gram").agg(count(lit(1)).as("c"))
        .groupBy("source")
        .agg(
          sum(when(col("n") === 1, col("c")).otherwise(lit(0L))).as("n1_total"),
          count(when(col("n") === 1, 1)).as("n1_distinct"),
          sum(when(col("n") === 2, col("c")).otherwise(lit(0L))).as("n2_total"),
          count(when(col("n") === 2, 1)).as("n2_distinct"))
        .select(col("source"),
          col("n1_total"), col("n1_distinct"), col("n2_total"), col("n2_distinct"),
          round(col("n1_distinct").cast("double")
            / nullif(col("n1_total"), lit(0L)).cast("double"), 6).as("distinct_1"),
          round(col("n2_distinct").cast("double")
            / nullif(col("n2_total"), lit(0L)).cast("double"), 6).as("distinct_2"))
        .orderBy("source")
    },
    Some(s"""WITH toks AS (SELECT source, string_split(text, ' ') AS w FROM documents),
            grams AS (
              SELECT source, 1 AS n, unnest(w) AS gram FROM toks
              UNION ALL
              SELECT source, 2 AS n,
                     unnest($wordBigramsSql) AS gram
              FROM toks WHERE len(w) >= 2),
            gc AS (
              SELECT source, n, gram, CAST(count(*) AS BIGINT) AS c
              FROM grams GROUP BY source, n, gram)
            SELECT source,
                   CAST(sum(CASE WHEN n = 1 THEN c ELSE 0 END) AS BIGINT) AS n1_total,
                   CAST(count(CASE WHEN n = 1 THEN 1 END) AS BIGINT) AS n1_distinct,
                   CAST(sum(CASE WHEN n = 2 THEN c ELSE 0 END) AS BIGINT) AS n2_total,
                   CAST(count(CASE WHEN n = 2 THEN 1 END) AS BIGINT) AS n2_distinct,
                   round(CAST(count(CASE WHEN n = 1 THEN 1 END) AS DOUBLE)
                         / CAST(nullif(sum(CASE WHEN n = 1 THEN c ELSE 0 END), 0) AS DOUBLE), 6)
                     AS distinct_1,
                   round(CAST(count(CASE WHEN n = 2 THEN 1 END) AS DOUBLE)
                         / CAST(nullif(sum(CASE WHEN n = 2 THEN c ELSE 0 END), 0) AS DOUBLE), 6)
                     AS distinct_2
            FROM gc
            GROUP BY source
            ORDER BY source""")
  )

  val all: Seq[Q] =
    Seq(qTextStats, qTopTerms, qTokenCount, qQualityScore, qLangId,
      qFingerprint, qSplitAssign, qTfidf, qLmScore, qLmBackoff, qSqlShingles, qCmsTerms,
      qChunkOverlap, qTextNormalize, qBm25, qInvertedIndex, qBm25Postings,
      qBm25Segments, qBm25Merge, qBm25Tiered, qHardNegatives, qSpanCorruption,
      qRerank, qRouge, qRougeL, qBleu, qBleuMulti, qRougeMulti, qChrf,
      qChrfSampled, qDistinctN)
}
