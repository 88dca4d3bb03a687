package graft.ingest

import java.io.ByteArrayOutputStream
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.SparkSpec
import graft.functions.PricePaidParse

/** Laws for the byte-level Price Paid parsers: [[Ingest.readRaw]] reads
  * exactly what the builtin CSV scan with the same options reads, and the
  * fixed-width date parser gives exactly `to_timestamp(_, "yyyy-MM-dd
  * HH:mm")`'s value on every input it accepts.
  */
class IngestParseLawSpec extends SparkSpec {

  /** The reference: the CSV source with `readRaw`'s CSV options. */
  private def builtinCsv(path: String): DataFrame =
    spark.read
      .schema(PPComplete.rawSchema)
      .option("header", "false")
      .option("nullValue", "\\N")
      .option("emptyValue", "")
      .option("mode", "PERMISSIVE")
      .csv(path)

  private def assertSameMultiset(path: String): Unit = {
    val got = Ingest.readRaw(spark, path)
    val want = builtinCsv(path)
    assert(got.schema == want.schema)
    assert(got.count() == want.count(), s"row counts differ on $path")
    val missing = want.exceptAll(got).limit(5).collect()
    val extra = got.exceptAll(want).limit(5).collect()
    assert(missing.isEmpty && extra.isEmpty,
      s"on $path builtin-only rows ${missing.toSeq}, readRaw-only rows ${extra.toSeq}")
  }

  /** Field shapes the dialect can hold, canonical or not. */
  private val fieldKinds: IndexedSeq[scala.util.Random => Array[Byte]] = {
    def ascii(s: String): scala.util.Random => Array[Byte] = _ => s.getBytes("UTF-8")
    def word(r: scala.util.Random): String =
      Iterator.fill(1 + r.nextInt(8))(('A' + r.nextInt(26)).toChar).mkString
    IndexedSeq(
      r => ("\"" + word(r) + "\"").getBytes("UTF-8"),           // quoted
      r => ("\"" + word(r) + " " + word(r) + "\"").getBytes("UTF-8"),
      r => word(r).getBytes("UTF-8"),                           // unquoted
      ascii("\"\""),                                            // quoted empty
      ascii(""),                                                // unquoted empty
      ascii("\\N"),                                             // bare null token
      ascii("\"\\N\""),                                         // quoted null token
      r => ("\"" + word(r) + "\"\"" + word(r) + "\"").getBytes("UTF-8"), // doubled quote
      r => ("\"" + word(r) + "\\\"" + word(r) + "\"").getBytes("UTF-8"), // backslash-escaped quote
      r => (word(r) + "\\" + word(r)).getBytes("UTF-8"),        // bare backslash
      r => ("\"" + word(r) + ", " + word(r) + "\"").getBytes("UTF-8"),   // embedded comma
      r => (" " + word(r) + "  ").getBytes("UTF-8"),            // unquoted, padded
      r => ("\" " + word(r) + " \"").getBytes("UTF-8"),         // quoted, padded inside
      r => (" \"" + word(r) + "\" ").getBytes("UTF-8"),         // quoted, padded outside
      ascii("   "),                                             // unquoted spaces only
      r => ("\"" + word(r) + "\tX\"").getBytes("UTF-8"),        // tab inside
      ascii("\"CAFÉ DU MONDE\""),                               // non-ASCII, quoted
      ascii("ŁÓDŹ"),                                            // non-ASCII, unquoted
      _ => Array[Byte]('"', 'A', 0xff.toByte, 'B', '"'),        // invalid UTF-8
      _ => Array[Byte]('X', 0xc3.toByte),                       // truncated sequence
      _ => Array[Byte]('"', 0xef.toByte, 0xbb.toByte, 0xbf.toByte, 'Z', '"'), // BOM
      ascii("\"2024-02-01 02:58\""),
      r => ("\"" + word(r)).getBytes("UTF-8"),                  // unterminated quote
      r => (word(r) + "\"" + word(r)).getBytes("UTF-8")         // quote mid-field
    )
  }

  /** `n` lines: mostly canonical quoted rows (the fast path), the rest
    * drawn from every field kind, field count and line ending above,
    * plus blank and whitespace-only lines.
    */
  private def corpus(seed: Long, n: Int): Array[Byte] = {
    val r = new scala.util.Random(seed)
    val out = new ByteArrayOutputStream()
    val blanks = Seq("", " ", "   ", "\t", "\t\t", " \t ", "\u000b", "\u0001 ")
    val endings = Seq("\n", "\n", "\n", "\r\n", "\r")
    for (_ <- 0 until n) {
      r.nextInt(10) match {
        case 0 => out.write(blanks(r.nextInt(blanks.size)).getBytes("UTF-8"))
        case k =>
          val nFields = r.nextInt(8) match {
            case 0 => 15
            case 1 => 17
            case _ => 16
          }
          val canonical = k >= 5
          val fields = (0 until nFields).map { _ =>
            if (canonical) fieldKinds(r.nextInt(5))(r) // quoted/unquoted/empty
            else fieldKinds(r.nextInt(fieldKinds.size))(r)
          }
          fields.zipWithIndex.foreach { case (f, i) =>
            if (i > 0) out.write(',')
            out.write(f)
          }
          if (r.nextInt(25) == 0) out.write(',') // trailing comma
      }
      out.write(endings(r.nextInt(endings.size)).getBytes("UTF-8"))
    }
    out.toByteArray
  }

  test("parser law: readRaw == builtin CSV scan (multiset) on a generated edge corpus") {
    val bytes = corpus(seed = 20240201L, n = 3000)
    val f = Files.createTempFile("parse-law-", ".csv")
    Files.write(f, bytes)
    // the corpus exercises both paths: lines the byte splitter accepts
    // and lines it hands to from_csv
    val lines = new String(bytes, "ISO-8859-1").split("\r\n|\r|\n")
      .map(l => UTF8String.fromBytes(l.getBytes("ISO-8859-1")))
      .filter(PricePaidParse.nonBlank)
    val accepted = lines.count(l => PricePaidParse.splitLine(l, PPComplete.columns.length) != null)
    assert(accepted > 500 && lines.length - accepted > 500,
      s"accepted $accepted of ${lines.length}")
    assertSameMultiset(f.toString)
  }

  test("parser law: readRaw == builtin CSV scan on the committed pp-complete fixtures") {
    Seq(
      graft.ops.IngestQueries.fixturePath,
      graft.ops.IngestQueries.unquotedFixturePath,
      graft.ops.IngestQueries.quarantineFixturePath
    ).foreach(assertSameMultiset)
  }

  test("parser law: interpreted evaluation matches the builtin CSV scan too") {
    val f = Files.createTempFile("parse-law-interp-", ".csv")
    Files.write(f, corpus(seed = 7L, n = 400))
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    try {
      spark.conf.set(keys(0), "false")
      spark.conf.set(keys(1), "NO_CODEGEN")
      assertSameMultiset(f.toString)
    } finally keys.foreach(spark.conf.unset)
  }

  private val fmt = PPComplete.dateTimeFormat

  /** Edge strings around every field of the fixed-width form. */
  private val dateEdges = Seq(
    "2024-02-01 02:58", "1900-02-29 00:00", "2000-02-29 00:00", "2024-02-29 23:59",
    "2023-02-29 12:00", "2100-02-29 00:00", "2024-00-10 00:00", "2024-13-10 00:00",
    "2024-04-31 00:00", "2024-12-31 23:59", "2024-01-01 24:00", "2024-01-01 23:60",
    "0000-01-01 00:00", "0999-12-31 23:59", "1000-01-01 00:00", "9999-12-31 23:59",
    "1970-01-01 00:00", "1969-12-31 23:59", "2024-02-01 2:58", "2024-02-01 02:58 ",
    " 2024-02-01 02:58", "2024-02-01 02:580", "2024-02-01T02:58", "2024/02/01 02:58",
    "2024-02-01 02:58:00", "+024-02-01 02:58", "2024-02-01 0a:58", "2024-02-00 01:00",
    "", "\\N"
  )

  /** Random well-formed, out-of-range and mis-shaped strings. */
  private def randomDates(seed: Long, n: Int): Seq[String] = {
    val r = new scala.util.Random(seed)
    Seq.fill(n) {
      val s = f"${r.nextInt(10000)}%04d-${r.nextInt(14)}%02d-${r.nextInt(33)}%02d " +
        f"${r.nextInt(26)}%02d:${r.nextInt(62)}%02d"
      r.nextInt(10) match {
        case 0 => s.dropRight(1)          // 15 chars
        case 1 => s + r.nextInt(10)       // 17 chars
        case 2 => s.updated(r.nextInt(16), (' ' + r.nextInt(95)).toChar)
        case _ => s
      }
    }
  }

  /** Both evaluation modes: a local relation is folded and evaluated
    * interpreted; a Parquet scan runs whole-stage codegen.
    */
  private def dateInputs(strs: Seq[String]): Seq[DataFrame] = {
    import spark.implicits._
    val local = (strs.map(Option(_)) :+ None).toDF("s")
    val dir = Files.createTempDirectory("date-law-").toString
    local.write.mode("overwrite").parquet(dir)
    Seq(local, spark.read.parquet(dir))
  }

  test("date law: fixed-width parse == try_to_timestamp(_, yyyy-MM-dd HH:mm), UTC / non-UTC / LEGACY") {
    val strs = dateEdges ++ randomDates(seed = 11L, n = 4000)
    val accepted = strs.count(s =>
      PricePaidParse.utcMinuteMicros(UTF8String.fromString(s)) != PricePaidParse.NotAccepted)
    assert(accepted > 1000 && strs.size - accepted > 1000, s"accepted $accepted of ${strs.size}")
    Seq(None -> None, Some("America/New_York") -> None, None -> Some("LEGACY"))
      .foreach { case (tz, policy) =>
        try {
          tz.foreach(spark.conf.set("spark.sql.session.timeZone", _))
          policy.foreach(spark.conf.set("spark.sql.legacy.timeParserPolicy", _))
          dateInputs(strs).foreach { df =>
            val pattern = try_to_timestamp(col("s"), lit(fmt))
            val diff = df
              .select(col("s"), PricePaidParse.utcMinute(col("s"), pattern).as("got"),
                pattern.as("want"))
              .where(!(col("got") <=> col("want")))
              .limit(5).collect()
            assert(diff.isEmpty, s"tz=$tz policy=$policy: ${diff.toSeq}")
          }
        } finally {
          spark.conf.set("spark.sql.session.timeZone", "UTC")
          spark.conf.unset("spark.sql.legacy.timeParserPolicy")
        }
      }
  }

  test("date law: accepted values equal the strict to_timestamp; declined ones still throw") {
    val strs = dateEdges ++ randomDates(seed = 12L, n = 400)
    val (ok, bad) = strs.partition(s =>
      PricePaidParse.utcMinuteMicros(UTF8String.fromString(s)) != PricePaidParse.NotAccepted)
    assert(ok.contains("2000-02-29 00:00") && ok.contains("2024-02-29 23:59"))
    assert(Seq("1900-02-29 00:00", "0999-12-31 23:59", "2024-01-01 24:00",
      "2024-02-01 02:58 ").forall(bad.contains))
    val strict = to_timestamp(col("s"), fmt)
    dateInputs(ok).foreach { df =>
      val diff = df.where(col("s").isNotNull)
        .select(col("s"), PricePaidParse.utcMinute(col("s"), strict).as("got"), strict.as("want"))
        .where(!(col("got") <=> col("want")))
        .collect()
      assert(diff.isEmpty, diff.toSeq.toString)
    }
    // a declined malformed value reaches the strict parser and aborts
    for (s <- Seq("2023-02-29 12:00", "2024-01-01 23:60", "2024-02-01 02:58 ")) {
      val e = intercept[Exception] {
        dateInputs(Seq(s)).last.where(col("s").isNotNull)
          .select(PricePaidParse.utcMinute(col("s"), strict)).collect()
      }
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain.exists(_.isInstanceOf[java.time.DateTimeException]), s"$s: $e")
    }
  }
}
