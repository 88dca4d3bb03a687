package graft.ingest

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Reference-semantics specs for the ingest pipeline — SURVEY §5.2
  * items 1, 3: NULL/empty discipline (§1.5), strict-datetime abort
  * (§1.6), and the full run (ops 1-16) end-to-end over file://.
  */
class IngestSpec extends SparkSpec {

  private def writeCsv(rows: String*): String = {
    val f = Files.createTempFile("ingest-spec-", ".csv")
    Files.writeString(f, rows.mkString("\n"))
    f.toString
  }

  // A valid quoted row builder: 16 fields, positions per PPComplete.columns.
  private def row(
      id: String,
      date: String = "2024-02-01 02:58",
      postcode: String = "AB1 2CD",
      ppdCat: String = "\"A\""
  ): String =
    Seq(
      "\"" + id + "\"", "\"100000\"", "\"" + date + "\"", "\"" + postcode + "\"",
      "\"D\"", "\"Y\"", "\"F\"", "\"1\"", "\"\"", "\"HIGH ST\"", "\"\"",
      "\"LONDON\"", "\"LONDON\"", "\"LONDON\"", ppdCat, "\"A\""
    ).mkString(",")

  test("§1.5: quoted-empty stays '' and \\N token is the only NULL") {
    val p = writeCsv(
      row("{1}", postcode = ""),     // quoted empty postcode → ''
      row("{2}", ppdCat = "\\N")     // \N unquoted → SQL NULL
    )
    val df = Ingest.readRaw(spark, p)
    val rows = df.orderBy("transaction_unique_id").collect()
    assert(rows(0).getAs[String]("postcode") == "")      // NOT null
    assert(rows(1).getAs[String]("ppd_cat") == null)     // token → NULL
    assert(rows(0).getAs[String]("secondary_address_object_name") == "")
  }

  test("§1.6: strict format — malformed transaction_date aborts the run") {
    // Through the REAL single-pass run: the strict to_timestamp throws
    // inside the write job's scan (no separate validation pass), and
    // run() translates it into the reference's informative abort.
    val p = writeCsv(row("{1}"), row("{2}", date = "01/02/2024 02:58"))
    val out = Files.createTempDirectory("ingest-bad-out-").toString
    val meta = Files.createTempDirectory("ingest-bad-meta-").toString
    val e = intercept[IllegalArgumentException] {
      Ingest.run(spark, "file://" + p, out, meta)
    }
    assert(e.getMessage.contains("malformed transaction_date"))
  }

  test("§1.6: well-formed dates type to UTC micros") {
    val p = writeCsv(row("{1}", date = "2024-02-01 02:58"))
    val raw = Ingest.readRaw(spark, p)
    val ts = Ingest.typed(raw).select("transaction_date").head.getTimestamp(0)
    // session TZ is UTC: epoch of 2024-02-01T02:58Z
    assert(ts.toInstant == java.time.Instant.parse("2024-02-01T02:58:00Z"))
  }

  test("ops 1-16 end-to-end: run over file:// fixture writes data + meta") {
    val out = Files.createTempDirectory("ingest-out-").toString
    val meta = Files.createTempDirectory("ingest-meta-").toString
    val url = "file://" + IngestSpecFixture.path
    val r = Ingest.run(spark, url, out, meta)

    assert(r.rowCount == 200)
    // auto_date == max(transaction_date) floored to date, via re-read
    val expected = spark.read
      .parquet(out)
      .agg(max(col("transaction_date")).cast("date"))
      .head
      .getDate(0)
    assert(r.autoDate.contains(expected))
    // op-12: exactly one provenance row, with the same auto_date
    val m = spark.read.parquet(meta)
    assert(m.count() == 1)
    assert(m.select("auto_date").head.getDate(0) == expected)
    // op-11 full refresh: a second run overwrites, not appends, data...
    val r2 = Ingest.run(spark, url, out, meta)
    assert(spark.read.parquet(out).count() == 200 && r2.rowCount == 200)
    // ...while metadata appends one row per run
    assert(spark.read.parquet(meta).count() == 2)
  }

  test("op-13 law: on multi-split input the stage durations are >= 0 and sum to at most the process wall") {
    // Small splits make the write job scan the fixture in several
    // concurrent tasks: the case in which summed executor time would
    // exceed any wall-clock span.
    val key = "spark.sql.files.maxPartitionBytes"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "4096")
    try {
      val url = "file://" + IngestSpecFixture.path
      val splits = Ingest.readRaw(spark, IngestSpecFixture.path).rdd.getNumPartitions
      assert(splits >= 2, s"the fixture scans in $splits split(s)")
      val m = Ingest.run(spark, url,
        Files.createTempDirectory("ingest-laps-out-").toString,
        Files.createTempDirectory("ingest-laps-meta-").toString).meta
      val stages = Seq(m.download_duration_us, m.read_duration_us,
        m.datetime_convert_duration_us, m.write_duration_us, m.upload_duration_us)
      assert(stages.forall(_ >= 0L), s"negative stage duration in $m")
      assert(stages.sum <= m.process_duration_us,
        s"stages sum to ${stages.sum} us > process ${m.process_duration_us} us: $m")
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("single-pass: run launches exactly 2 jobs (data write, meta write)") {
    // The round-1 pipeline ran a validation scan BEFORE the write — a 2×
    // read of clean input. Pin the reference's one-pass shape: the only
    // jobs are the observed data write and the 1-row metadata append.
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val out = Files.createTempDirectory("ingest-1pass-out-").toString
      val meta = Files.createTempDirectory("ingest-1pass-meta-").toString
      Ingest.run(spark, "file://" + IngestSpecFixture.path, out, meta)
      // listener bus is async; wait for the count to go quiet
      var last = -1
      var stable = 0
      while (stable < 3) {
        Thread.sleep(100)
        val now = jobs.get
        if (now == last) stable += 1 else { stable = 0; last = now }
      }
      assert(jobs.get == 2, s"expected 2 jobs (data+meta writes), saw ${jobs.get}")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("op-9 CSV round-trip preserves empty-vs-NULL (SURVEY §5.2 item 4)") {
    val raw = Ingest.readRaw(spark, IngestSpecFixture.path)
    val out = Files.createTempDirectory("csv-roundtrip-").toString
    // sink-side encode with the reference's conventions: quote
    // everything (like pp-complete.txt), \N for NULL
    raw.coalesce(1).write
      .option("header", "false")
      .option("nullValue", "\\N")
      .option("emptyValue", "\"\"")
      .option("quoteAll", "true")
      .mode("overwrite")
      .csv(out)
    val back = Ingest.readRaw(spark, out)
    val a = raw.orderBy("transaction_unique_id").collect()
    val b = back.orderBy("transaction_unique_id").collect()
    assert(a.length == 200 && b.length == 200)
    assert(a.toSeq == b.toSeq) // '' stays '', NULL stays NULL, bytes equal
  }

  test("quarantine ingest: routing is exact — 60 ok / 6 bad_date / 3 bad_columns, by planted id prefix") {
    val fix = graft.ops.IngestQueries.quarantineFixturePath
    val out = Files.createTempDirectory("quarantine-spec-").toString
    val (clean, quar) = Ingest.quarantineIngest(spark, fix, out)
    val cleanRows = spark.read.parquet(clean).collect()
    assert(cleanRows.length == 60)
    assert(cleanRows.forall(_.getString(0).startsWith("{Q")))
    val quarRows = spark.read.parquet(quar)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(quarRows.length == 9)
    assert(quarRows.count(_._2 == "bad_date") == 6)
    assert(quarRows.count(_._2 == "bad_columns") == 3)
    quarRows.foreach { case (id, reason) =>
      if (reason == "bad_date") assert(id.startsWith("{R"), s"$id routed as $reason")
      else assert(id.startsWith("{S"), s"$id routed as $reason")
    }
  }

  test("quarantine ingest: clean rows carry §1.5 ('' stays '', \\N the only NULL) + §1.6 typed timestamps") {
    val fix = graft.ops.IngestQueries.quarantineFixturePath
    val out = Files.createTempDirectory("quarantine-spec2-").toString
    val (clean, _) = Ingest.quarantineIngest(spark, fix, out)
    val df = spark.read.parquet(clean)
    assert(df.schema("transaction_date").dataType ==
      org.apache.spark.sql.types.TimestampType)
    val r0 = df.where(col("transaction_unique_id") ===
      "{Q00000000-AAAA-BBBB-CCCC-000000000000}").head()
    assert(r0.getAs[String]("postcode") == "") // unquoted empty → '' (not NULL)
    assert(r0.getAs[String]("secondary_address_object_name") == "")
    assert(r0.getAs[String]("ppd_cat") == null) // bare \N → NULL
    assert(r0.getAs[java.sql.Timestamp]("transaction_date") ==
      java.sql.Timestamp.valueOf("2020-01-01 00:00:00")) // session TZ UTC
  }

  test("quarantine ingest: rejected lines survive byte-exact in the quarantine sink") {
    val fix = graft.ops.IngestQueries.quarantineFixturePath
    val out = Files.createTempDirectory("quarantine-spec3-").toString
    val (_, quar) = Ingest.quarantineIngest(spark, fix, out)
    val raws = spark.read.parquet(quar)
      .collect().map(r => r.getAs[String]("raw")).toSet
    val fileLines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(fix))
    val expected = fileLines.toArray(Array.empty[String])
      .filter(l => l.startsWith("{R") || l.startsWith("{S")).toSet
    assert(raws == expected)
  }

  test("quarantine ingest: empty input yields empty sinks, not a crash (r12 ADVICE-class edge)") {
    val empty = Files.createTempFile("quarantine-empty-", ".csv").toString
    val out = Files.createTempDirectory("quarantine-spec4-").toString
    val (clean, quar) = Ingest.quarantineIngest(spark, empty, out)
    assert(spark.read.parquet(clean).count() == 0)
    assert(spark.read.parquet(quar).count() == 0)
  }

  test("quarantine ingest: a reused outDir is rebuilt only for a different input") {
    val fix = graft.ops.IngestQueries.quarantineFixturePath
    val out = Files.createTempDirectory("quarantine-spec5-").toString
    val marker = java.nio.file.Paths.get(out, "_graft_staged")
    Ingest.quarantineIngest(spark, fix, out)
    val built = Files.getLastModifiedTime(marker)
    val cleanFiles = new java.io.File(s"$out/clean").list().toSet
    // the same input: no build runs, so the marker and the sink files stay
    Ingest.quarantineIngest(spark, fix, out)
    assert(Files.getLastModifiedTime(marker) == built)
    assert(new java.io.File(s"$out/clean").list().toSet == cleanFiles)
    // a different input: rebuilt, and routes the new input's rows
    val lines = Files.readAllLines(java.nio.file.Paths.get(fix)).toArray(Array.empty[String])
    val other = Files.createTempFile("quarantine-other-", ".csv")
    Files.writeString(other, (lines.filter(_.startsWith("{Q")).take(4) ++
      lines.filter(_.startsWith("{R")).take(1)).mkString("\n"))
    val (clean, quar) = Ingest.quarantineIngest(spark, other.toString, out)
    assert(spark.read.parquet(clean).count() == 4)
    assert(spark.read.parquet(quar).collect().map(_.getString(1)).toSeq == Seq("bad_date"))
  }

  test("q_ingest_quarantine registers its sink dir for reclamation at JVM exit") {
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    def sinkDirs(): Set[java.nio.file.Path] = {
      val listing = Files.list(tmp)
      try {
        import scala.jdk.CollectionConverters._
        listing.iterator().asScala.filter(_.getFileName.toString.startsWith("quarantine-")).toSet
      } finally listing.close()
    }
    val before = sinkDirs()
    assert(graft.SparkEntry.queries("q_ingest_quarantine")(spark, sf0001).count() == 69)
    val made = sinkDirs() -- before
    assert(made.size == 1, s"one sink dir per call, got $made")
    assert(graft.FsUtil.registeredForExit(made.head),
      s"${made.head} is not registered for deletion at JVM exit")
  }

  test("strict mode contrast: the SAME fixture aborts the reference path (§1.6 fail-on-malformed)") {
    val fix = graft.ops.IngestQueries.quarantineFixturePath
    assertThrows[IllegalArgumentException] {
      Ingest.rethrowMalformed(
        Ingest.typed(Ingest.readRaw(spark, fix)).collect())
    }
  }

  test("op-2 retry: unreachable URL exhausts retries then raises") {
    val t0 = System.nanoTime()
    assertThrows[Throwable] {
      Ingest.fetchToLocal("file:///nonexistent/nope.csv", maxRetries = 2, sleepMs = 10)
    }
    assert((System.nanoTime() - t0) / 1e6 >= 10) // slept between attempts
  }
}

object IngestSpecFixture {
  val path = "/root/repo/src/test/resources/pp_complete.csv"
}
