package graft.ops

import org.apache.spark.sql.functions._
import graft.ingest.{Ingest, PPComplete}

/** E9 — the reference pipeline itself as declared queries. The flagship
  * reads the committed pp-complete-shaped fixture (FIXTURES.md §F2) with
  * the reference's exact CSV semantics (§1.5/§1.6) and types the
  * datetime; the DuckDB oracle re-reads the same file.
  */
object IngestQueries {

  /** The checkout this code was compiled in: the first ancestor of the
    * class location (`<checkout>/target/scala-2.13/classes`) holding
    * `src/test/resources`, else the working directory. The engine and
    * its DuckDB oracles read the same absolute fixture files under it.
    */
  private[graft] val checkout: String = {
    val classes = java.nio.file.Paths.get(
      getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    Iterator.iterate(classes)(_.getParent).takeWhile(_ != null)
      .find(p => java.nio.file.Files.isDirectory(p.resolve("src/test/resources")))
      .getOrElse(java.nio.file.Paths.get("").toAbsolutePath)
      .toString
  }

  private val fixtureDir = s"$checkout/src/test/resources"

  val fixturePath = s"$fixtureDir/pp_complete.csv"

  /** Headerless all-string scan → positional names → strict timestamp.
    * Empty fields stay '' (never NULL); `\N` is the only NULL token.
    */
  val qIngestPp = Q(
    "q_ingest_pp",
    (s, _) =>
      Ingest
        .typed(Ingest.readRaw(s, fixturePath))
        .orderBy("transaction_unique_id"),
    Some {
      val renames = PPComplete.columns.zipWithIndex.map {
        case ("transaction_date", i) =>
          f"CAST(strptime(column$i%02d, '%%Y-%%m-%%d %%H:%%M') AS TIMESTAMP) AS transaction_date"
        case (name, i) => f"column$i%02d AS $name"
      }
      s"""SELECT ${renames.mkString(", ")}
          FROM read_csv('$fixturePath', header=false, all_varchar=true, nullstr='\\N')
          ORDER BY transaction_unique_id"""
    }
  )

  /** auto_date over the fixture: ops 7+8 end-to-end (max ts → date). */
  val qIngestAutoDate = Q(
    "q_ingest_auto_date",
    (s, _) =>
      Ingest
        .typed(Ingest.readRaw(s, fixturePath))
        .agg(max(col("transaction_date")).cast("date").as("auto_date")),
    Some(s"""SELECT CAST(max(CAST(strptime(column02, '%Y-%m-%d %H:%M') AS TIMESTAMP)) AS DATE) AS auto_date
             FROM read_csv('$fixturePath', header=false, all_varchar=true, nullstr='\\N')""")
  )

  /** The same flagship ingest through the DSv2 URL source (op-1 as a
    * real Spark source, `graft.sources.UrlCsvSource`) — the shared
    * oracle proves the source's CSV/NULL semantics match the file path.
    */
  val qUrlSource = Q(
    "q_url_source",
    (s, _) =>
      Ingest
        .typed(
          s.read
            .format(graft.sources.UrlCsvSource.Name)
            .option("url", s"file://$fixturePath")
            .load()
        )
        .orderBy("transaction_unique_id"),
    qIngestPp.oracle
  )

  /** Mixed-quoting fixture (FIXTURES.md §F2b): unquoted empty fields,
    * quoted empties, and bare `\N` tokens side by side. Only the DSv2
    * source can represent the reference's exact §1.5 discipline here —
    * unquoted empty loads as '' and `\N` is the only NULL
    * (`main.py:208`); the builtin CSV path reads unquoted empty as NULL
    * (parser limitation documented in Ingest.readRaw), which is why this
    * query goes through UrlCsvSource and q_ingest_pp keeps the
    * all-quoted fixture.
    */
  val unquotedFixturePath = s"$fixtureDir/pp_complete_unquoted.csv"

  val qUrlSourceUnquoted = Q(
    "q_url_source_unquoted",
    (s, _) =>
      Ingest
        .typed(
          s.read
            .format(graft.sources.UrlCsvSource.Name)
            .option("url", s"file://$unquotedFixturePath")
            .load()
        )
        .orderBy("transaction_unique_id"),
    Some {
      val renames = PPComplete.columns.zipWithIndex.map {
        case ("transaction_date", i) =>
          f"CAST(strptime(column$i%02d, '%%Y-%%m-%%d %%H:%%M') AS TIMESTAMP) AS transaction_date"
        case (name, i) => f"column$i%02d AS $name"
      }
      // DuckDB's read_csv with nullstr='\N' has the reference semantics
      // natively: unquoted empty → '', \N → NULL (verified against
      // pandas' keep_default_na=False behavior)
      s"""SELECT ${renames.mkString(", ")}
          FROM read_csv('$unquotedFixturePath', header=false, all_varchar=true, nullstr='\\N')
          ORDER BY transaction_unique_id"""
    }
  )

  /** Bad-records quarantine fixture (FIXTURES.md §F2c): 60 good rows
    * (with `''` and `\N` planted in non-date columns), 6 bad-date rows
    * (impossible date, trailing seconds, slashed format, garbage, empty,
    * `\N`), 3 bad-column-count rows (15, 17, 3 fields). Unquoted
    * comma-free dialect — the contract that makes the oracle's
    * line-split replay exact (see [[graft.ingest.Ingest.quarantineIngest]]).
    */
  val quarantineFixturePath = s"$fixtureDir/pp_complete_quarantine.csv"

  /** E9 (r12) — quarantine ingest, VERDICT r11 #3: run the
    * classify-and-route pipeline, then read the VERDICTS BACK FROM THE
    * SINKS — clean-sink rows as `ok`, quarantine-sink rows with their
    * reason codes — so the oracle hash proves the ROUTING, not just the
    * classification: a row lost (or duplicated) between staging and
    * either sink breaks the union. The DuckDB oracle replays the
    * classification per line (token count, then the strict §1.6 date
    * parse via try_strptime) over the same file.
    */
  val qIngestQuarantine = Q(
    "q_ingest_quarantine",
    (s, _) => {
      // the sinks are read back lazily, so the dir is reclaimed at JVM exit
      val out = graft.FsUtil.deleteOnExit(
        java.nio.file.Files.createTempDirectory("quarantine-")).toString
      val (clean, quar) = graft.ingest.Ingest.quarantineIngest(s, quarantineFixturePath, out)
      s.read.parquet(clean)
        .select(col("transaction_unique_id"), lit("ok").as("reason"))
        .unionAll(s.read.parquet(quar).select(col("transaction_unique_id"), col("reason")))
        .orderBy("transaction_unique_id", "reason")
    },
    Some(s"""WITH lines AS (
               SELECT column0 AS line
               FROM read_csv('$quarantineFixturePath',
                             header=false, all_varchar=true, delim=chr(1), quote='')
             ), parsed AS (
               SELECT line, string_split(line, ',') AS p FROM lines
             )
             SELECT p[1] AS transaction_unique_id,
                    CASE WHEN len(p) != 16 THEN 'bad_columns'
                         WHEN try_strptime(p[3], '%Y-%m-%d %H:%M') IS NULL THEN 'bad_date'
                         ELSE 'ok' END AS reason
             FROM parsed
             ORDER BY transaction_unique_id, reason""")
  )

  /** E9 — JSONL source+sink round-trip. JSON Lines is the de-facto LLM
    * corpus interchange format; this query writes `documents` as
    * gzipped JSONL and reads it back with an EXPLICIT schema (schema
    * inference would double-scan 100 TB), and the oracle compares the
    * re-read rows against the parquet originals — hash equality proves
    * every text byte (CJK, quotes, newlines-as-\n) survives the JSON
    * escape/unescape round trip. Scale note: gzip members are not
    * splittable, so read parallelism = shard count; a production layout
    * writes ~256 MB shards (or zstd), exactly like the write here fans
    * out one shard per task.
    */
  val qJsonlRoundtrip = Q(
    "q_jsonl_roundtrip",
    (s, d) => {
      val out = Staged.layout(s, "docs_jsonl", Seq(s"$d/documents.parquet")) { tmp =>
        Tables.documents(s, d).write.option("compression", "gzip").json(tmp)
      }
      s.read
        .schema(Tables.documents(s, d).schema) // explicit: no inference scan
        .json(out)
        .select("doc_id", "lang", "n_chars", "text")
        .orderBy("doc_id")
    },
    Some("SELECT doc_id, lang, n_chars, text FROM documents ORDER BY doc_id")
  )

  /** E9 — ORC source+sink round-trip, the columnar-interchange twin of
    * [[qJsonlRoundtrip]]: `events` written as zlib ORC and read back.
    * ORC is the other columnar lake format a complete engine must speak
    * (warehouse migrations land in it); the oracle compares the re-read
    * rows against the parquet originals, so hash equality proves the
    * timestamp/double/string round trip is bit-exact across formats.
    * Scale notes: ORC stripes are splittable (unlike the gzip JSONL
    * members), so read parallelism is stripe-granular like parquet
    * row groups; predicate pushdown and column pruning work through the
    * same DSv2 scan machinery (`spark.read.orc` → OrcScan with
    * PushedFilters), proven by the one-column projection below pruning
    * at the scan.
    */
  val qOrcRoundtrip = Q(
    "q_orc_roundtrip",
    (s, d) => {
      val out = Staged.layout(s, "events_orc", Seq(s"$d/events.parquet")) { tmp =>
        Tables.events(s, d).write.option("compression", "zlib").orc(tmp)
      }
      s.read
        .orc(out) // self-describing columnar schema — no inference scan
        .where(col("event_type") === "click")
        .select("event_id", "ts", "user_id", "value")
        .orderBy("event_id")
    },
    Some("""SELECT event_id, ts, user_id, value FROM events
            WHERE event_type = 'click' ORDER BY event_id""")
  )

  /** E9 — AVRO source+sink round-trip, the ROW-MAJOR interchange twin
    * of [[qOrcRoundtrip]]: `events` written as deflate Avro container
    * files and read back through the engine's own DSv2 source
    * ([[graft.sources.AvroSource]] — the platform ships avro-1.12.1
    * but not the spark-avro DataSource module, so the engine speaks
    * the format through its own TableProvider, the UrlCsvSource
    * precedent). Avro is what streaming ecosystems hand a lake ingest
    * (Kafka topic archives, CDC dumps); timestamps ride the
    * timestamp-micros logical type — Spark's own internal encoding —
    * so the oracle's hash equality proves the round trip bit-exact.
    * Write fan-out is one container per partition task; the scan plans
    * one partition per container and prunes columns at the reader
    * (row-major decode still touches every byte — the saving is slot
    * materialization, the UrlCsvSource argument).
    */
  val qAvroRoundtrip = Q(
    "q_avro_roundtrip",
    (s, d) => {
      val out = Staged.layout(s, "events_avro", Seq(s"$d/events.parquet")) { tmp =>
        graft.sources.AvroIo.write(Tables.events(s, d), tmp)
      }
      s.read
        .format(graft.sources.AvroSource.Name)
        .option("path", out)
        .load()
        .where(col("event_type") === "purchase")
        .select("event_id", "ts", "user_id", "value")
        .orderBy("event_id")
    },
    Some("""SELECT event_id, ts, user_id, value FROM events
            WHERE event_type = 'purchase' ORDER BY event_id""")
  )

  val all: Seq[Q] =
    Seq(qIngestPp, qIngestAutoDate, qUrlSource, qUrlSourceUnquoted, qIngestQuarantine,
      qJsonlRoundtrip, qOrcRoundtrip, qAvroRoundtrip)
}
