package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession, Row}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.{Date, Timestamp}
import graft.functions.PricePaidParse

/** The reference pipeline (ops 1-16 of SURVEY §2.A), re-expressed as one
  * lazy Spark plan instead of a driver-side chunk loop.
  *
  * Reference shape (`main.py:174-271`): download → read CSV in 50k-row
  * chunks → rename 16 cols → strict to_datetime(UTC) → running
  * max(transaction_date) → re-serialize CSV → Postgres COPY, one txn.
  *
  * Spark shape: the chunk loop disappears — a partitioned scan bounds
  * memory (op-14), whole-stage codegen pipelines scan→cast→write per
  * task, and the running max rides the SAME pass via `df.observe`
  * (op-7: Catalyst does partial/final aggregation per partition exactly
  * like the reference's per-chunk max + running max, but in parallel).
  * Parquet `Overwrite` stands in for TRUNCATE+COPY (ops 10-11); a real
  * Postgres sink would be `foreachPartition` + pgjdbc CopyManager behind
  * the same interface.
  *
  * 100 TB notes: the plan is shuffle-free (scan → narrow ops → write);
  * it scales linearly with input splits. The only aggregation is the
  * observed max, which is partial-per-task + tiny final on the driver.
  */
object Ingest {

  final case class RunResult(
      autoDate: Option[Date],
      rowCount: Long,
      downloadSizeMB: Long,
      meta: RunMeta
  )

  /** op-1/2/3/16: fetch a URL (http(s)/file) to a local temp file with
    * bounded retries — reference `download_data_to_disk_retry_wrapper`
    * (`main.py:93-171`): ≤3 attempts, fixed sleep, stream to temp file.
    * Driver-side by design: Spark has no http:// source; at scale the
    * fetch lands on shared storage and the cluster reads the splits.
    */
  def fetchToLocal(url: String, maxRetries: Int = 3, sleepMs: Long = 10000): String = {
    var attempt = 0
    var lastErr: Throwable = null
    while (attempt < maxRetries) {
      attempt += 1
      val tmp = Files.createTempFile("pp-complete-", ".csv")
      try {
        val in = new java.net.URI(url).toURL.openStream()
        try Files.copy(in, tmp, StandardCopyOption.REPLACE_EXISTING)
        finally in.close()
        return tmp.toString
      } catch {
        case e: Throwable =>
          Files.deleteIfExists(tmp) // op-16: no orphaned partial downloads
          lastErr = e
          if (attempt < maxRetries) Thread.sleep(sleepMs)
      }
    }
    throw lastErr
  }

  /** op-4: headerless all-string CSV scan with the reference's NULL
    * discipline (§1.5): QUOTED empty fields stay `''` and the literal `\N`
    * token is NULL (COPY `NULL '\N'`).
    *
    * Parse path: a text scan of the raw lines, the CSV source's blank-line
    * filter (drop a line Java `String.trim` would empty), then one codegen
    * splitter ([[graft.functions.PricePaidParse.line]]). Its fast path
    * splits a canonical line — exactly 16 fields, each `"…"` or unquoted,
    * printable ASCII, no `"` or `\` inside a field: the shape of the real
    * pp-complete.txt — straight from its bytes. Every other line
    * takes the per-row fallback, `from_csv` with the dialect's CSV
    * options (`nullValue` `\N`, `emptyValue` `''`, PERMISSIVE): the same
    * univocity parser the CSV file source runs on the same line.
    * The results are exact because the text source splits lines where the
    * CSV source does (LF, CR, CRLF), the filter keeps the same lines, and
    * the fast path accepts only lines on which univocity's tokens are the
    * bytes between the delimiters; `IngestParseLawSpec` pins the whole
    * read against the builtin CSV scan as a multiset.
    *
    * Caveat: an UNQUOTED empty field reads as NULL, on both paths — the
    * builtin CSV options cannot distinguish unquoted-empty from the null
    * token at parser level, and the fast path reproduces that. The real
    * pp-complete.txt quotes every field, so this never fires on reference
    * data. The DSv2 UrlCsvSource DOES implement the exact reference
    * semantics (unquoted empty → '', only `\N` → NULL — `main.py:208`),
    * proven by q_url_source_unquoted; this path's divergence on
    * unquoted-empty is the known residual.
    */
  def readRaw(spark: SparkSession, path: String): DataFrame = {
    val value = col("value")
    val univocity = from_csv(value, PPComplete.rawSchema,
      Map("nullValue" -> "\\N", "emptyValue" -> "", "mode" -> "PERMISSIVE"))
    spark.read.text(path)
      .where(PricePaidParse.nonBlank(value))
      .select(PricePaidParse.line(value, univocity).as("fields"))
      .select("fields.*")
  }

  /** ops 5+6: positional rename (the field names of [[readRaw]]'s schema)
    * + strict datetime typing. The reference aborts on a malformed date
    * (`main.py:218-222` raises); under Spark 4's default ANSI mode the
    * strict `to_timestamp` throws INSIDE the scan of whatever job
    * evaluates it, so fail-on-malformed needs no validation pass of its
    * own — [[rethrowMalformed]] translates the ANSI error at the one
    * job that reads the data (the write).
    *
    * Parse path: [[graft.functions.PricePaidParse.utcMinute]] — a
    * fixed-width `yyyy-MM-dd HH:mm` parser computes the UTC micros of
    * every well-formed value, and every other value (malformed, out of
    * range, NULL) is evaluated by the unchanged `to_timestamp`, so a
    * malformed date still throws in the write job. The fixed-width result
    * is exact: it accepts only values the strict pattern parses (year
    * 1000-9999, a valid calendar date, hour ≤ 23, minute ≤ 59, nothing
    * else) and only when the session zone is UTC and the parser policy is
    * not LEGACY; otherwise every row goes to `to_timestamp`. The
    * quarantine classifier uses the same parser over `try_to_timestamp`.
    */
  def typed(raw: DataFrame): DataFrame =
    raw.withColumn(
      "transaction_date",
      PricePaidParse.utcMinute(col("transaction_date"),
        to_timestamp(col("transaction_date"), PPComplete.dateTimeFormat))
    )

  /** BAD-RECORDS QUARANTINE ingest (r12) — the production complement of
    * §1.6's fail-on-malformed: the reference aborts the whole run on one
    * malformed date (`main.py:218-222`, reproduced by [[typed]] +
    * [[rethrowMalformed]]); a 100 TB ingest needs the mode where good
    * rows flow through the §1.5/§1.6 path and bad rows land in a
    * quarantine sink with a reason code instead of killing the job.
    *
    * Shape: ONE scan of the input classifies every line — token count
    * first (`bad_columns`), then the strict §1.6 date parse
    * (`bad_date`, via [[typed]]'s date parser over `try_to_timestamp`:
    * the non-throwing twin of the ANSI parse [[typed]] relies on) — and
    * writes a reason-partitioned staging (no shuffle: classification is a per-row codegen
    * projection, the write fans out by partition column). The clean
    * sink is then a partition-PRUNED re-read of `reason=ok` projected
    * through the exact §1.5 discipline (unquoted empty → `''`, the bare
    * token `\N` the ONLY null — the UrlCsvReader semantics, here as
    * plain expressions) and [[typed]]'s strict timestamp; the
    * quarantine sink keeps (id, reason, raw line) so every rejected
    * byte is recoverable. The classify→route pass is the bronze→silver
    * two-hop every lake ingest pays; at 100 TB the quarantine side is
    * tiny and the clean re-encode reads columnar staging, not raw text.
    *
    * Dialect: lines split on bare commas (the fixture contract —
    * unquoted, comma-free fields), which is what makes the DuckDB
    * oracle's `string_split` replay exactly symmetric, including on
    * ragged rows the builtin CSV parser silently null-pads (PERMISSIVE
    * mode never flags token-count errors on an all-string schema —
    * measured, not assumed). A quoted-dialect quarantine swaps this
    * splitter for the univocity parse at the same seam.
    *
    * Returns (cleanDir, quarantineDir).
    */
  def quarantineIngest(s: SparkSession, path: String, outDir: String): (String, String) = {
    val nCols = PPComplete.columns.length
    val parts = split(col("value"), ",", -1)
    val reason = when(size(parts) =!= lit(nCols), lit("bad_columns"))
      .when(PricePaidParse.utcMinute(element_at(parts, 3),
        try_to_timestamp(element_at(parts, 3), lit(PPComplete.dateTimeFormat))).isNull,
        lit("bad_date"))
      .otherwise(lit("ok"))
    // the three sinks publish together through Staged: a crash between
    // the staging write and the sink writes never leaves a routed
    // outDir that reads as complete, and a reused outDir over a changed
    // input (or an edited build) is rebuilt
    graft.ops.Staged.publish(s, outDir, Seq(path)) { tmp =>
      val staging = s"$tmp/staging"
      s.read.text(path)
        .select(col("value"), reason.as("reason"))
        .write.mode("overwrite").partitionBy("reason").parquet(staging)
      val fs = new org.apache.hadoop.fs.Path(staging)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      def stagedOr(reasons: Seq[String], schema: org.apache.spark.sql.types.StructType): DataFrame = {
        val dirs = reasons.map(r => s"$staging/reason=$r")
          .filter(p => fs.exists(new org.apache.hadoop.fs.Path(p)))
        if (dirs.isEmpty)
          s.createDataFrame(s.sparkContext.emptyRDD[Row], schema)
        else s.read.option("basePath", staging).parquet(dirs: _*)
      }
      val stagedSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("reason",
          org.apache.spark.sql.types.StringType)))
      // clean: §1.5 projection (split again — scan-speed, columnar input)
      // + §1.6 strict typing; by construction every date here parses, so
      // the ANSI to_timestamp cannot throw
      val cleanCols = PPComplete.columns.zipWithIndex.map { case (name, i) =>
        val f = element_at(split(col("value"), ",", -1), i + 1)
        when(f === "\\N", lit(null)).otherwise(f).as(name)
      }
      typed(stagedOr(Seq("ok"), stagedSchema).select(cleanCols: _*))
        .write.mode("overwrite").parquet(s"$tmp/clean")
      stagedOr(Seq("bad_columns", "bad_date"), stagedSchema)
        .select(
          element_at(split(col("value"), ",", -1), 1).as("transaction_unique_id"),
          col("reason"),
          col("value").as("raw"))
        .write.mode("overwrite").parquet(s"$tmp/quarantine")
    }
    (s"$outDir/clean", s"$outDir/quarantine")
  }

  /** §1.6 fail-on-malformed, single-pass: run `body` (the write job) and
    * translate a scan-side ANSI datetime parse failure into the
    * reference's informative abort. Round 1 ran a separate
    * validate-then-write (a 2× read of clean input at 100 TB); the
    * reference reads its file exactly once (`main.py:204-249`) and
    * aborts mid-COPY when pandas' strict to_datetime raises — this is
    * the same semantics on the same single pass.
    */
  def rethrowMalformed[T](body: => T): T =
    try body
    catch {
      case e: Throwable =>
        val chain =
          Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(32).toSeq
        chain.collectFirst { case dt: java.time.DateTimeException => dt } match {
          case Some(dt) =>
            throw new IllegalArgumentException(
              s"malformed transaction_date (expected ${PPComplete.dateTimeFormat}): " +
                dt.getMessage,
              e
            )
          case None => throw e
        }
    }

  /** Full run (op-15 orchestration): fetch → scan → type → write with the
    * max(transaction_date) observed on the same pass (op-7 "auto_date"),
    * floored to a calendar date (op-8) — then append one provenance row
    * (ops 12-13) to the metadata table.
    */
  def run(
      spark: SparkSession,
      sourceUrl: String,
      outDir: String,
      metaDir: String
  ): RunResult =
    run(spark, sourceUrl, ParquetSink(outDir), ParquetSink(metaDir))

  /** Sink-parameterized run (SURVEY §7.1: swap in a COPY sink for
    * real-Postgres parity without touching the pipeline).
    *
    * op-13 provenance: one driver clock read in consecutive laps, so each
    * duration column times its own part of the run, no two overlap, and
    * their sum never exceeds `process_duration_us` — wall-clock spans, as
    * the reference's are (`main.py:211-249`):
    *  - `download_duration_us`: [[fetchToLocal]];
    *  - `read_duration_us`: [[readRaw]], i.e. opening, listing and
    *    resolving the scan on the driver;
    *  - `datetime_convert_duration_us`: [[typed]] plus the `observe`;
    *  - `write_duration_us`: the sink's overwrite, the one fused
    *    scan→parse→convert→write job in which every row is read and typed.
    * The metadata append itself stays unmeasured, as in the reference.
    */
  def run(
      spark: SparkSession,
      sourceUrl: String,
      dataSink: Sink,
      metaSink: Sink
  ): RunResult = {
    val t0 = System.nanoTime()
    val start = new Timestamp(System.currentTimeMillis())
    var mark = t0
    def lapUs(): Long = {
      val now = System.nanoTime()
      val us = (now - mark) / 1000
      mark = now
      us
    }

    val local = fetchToLocal(sourceUrl)
    val dlUs = lapUs()

    try {
      val sizeMB = Files.size(Paths.get(local)) / (1024L * 1024L)
      val raw = readRaw(spark, local)
      val readUs = lapUs()
      // op-7 fused with the load pass: observe piggybacks the aggregate on
      // the write job — no second scan (reference computes the running max
      // while uploading, `main.py:228-230`). An Observation, because the
      // write command runs its own QueryExecution.
      val obs = org.apache.spark.sql.Observation()
      val observed = typed(raw).observe(
        obs,
        max(col("transaction_date")).as("max_ts"),
        count(lit(1)).as("n_rows")
      )
      val convertUs = lapUs()
      // ops 10-11: full-refresh bulk load — the ONE job over the input
      // (strict-date abort fires in this scan, §1.6).
      rethrowMalformed(dataSink.overwrite(observed))
      val writeUs = lapUs()

      val stats = obs.get
      val maxTs = Option(stats("max_ts").asInstanceOf[Timestamp])
      val nRows = stats("n_rows").asInstanceOf[Long]
      // op-8 floor-to-date, explicitly in UTC (new Date(millis) would keep
      // the time-of-day and break date equality).
      val autoDate = maxTs.map(ts =>
        Date.valueOf(ts.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDate)
      )

      val end = new Timestamp(System.currentTimeMillis())
      val meta = RunMeta(
        auto_date = autoDate.orNull,
        download_size_MB = sizeMB,
        process_start_timestamp = start,
        process_complete_timestamp = end,
        process_duration_us = (System.nanoTime() - t0) / 1000,
        download_duration_us = dlUs,
        read_duration_us = readUs,
        datetime_convert_duration_us = convertUs,
        write_duration_us = writeUs,
        // the sink's load (reference: database_upload_duration) runs
        // inside the overwrite, so it is part of write_duration_us
        upload_duration_us = 0L
      )
      // op-12: single-row append to the metadata table.
      import spark.implicits._
      metaSink.append(Seq(meta).toDF())
      RunResult(autoDate, nRows, sizeMB, meta)
    } finally {
      Files.deleteIfExists(Paths.get(local)) // op-16 temp-file lifecycle
    }
  }
}
