package graft.ingest

import org.apache.spark.sql.{DataFrame, Row, SaveMode}

/** Sink abstraction (SURVEY §7.1): isolates the reference's two write
  * targets — the TRUNCATE+COPY full refresh of `pp_complete_data`
  * (ops 10-11, `main.py:194-251`) and the append-only metadata insert
  * (op-12, `main.py:274-295`) — so the COPY implementation
  * ([[CopySink]]) can drop in where Parquet stands in for Postgres.
  */
trait Sink {
  /** Full-refresh write (reference: TRUNCATE + COPY in one txn). */
  def overwrite(df: DataFrame): Unit

  /** Append write (reference: single-row ORM insert). */
  def append(df: DataFrame): Unit
}

/** Parquet sink — the engine's native store (object storage at scale).
  * `Overwrite` is the TRUNCATE+reload equivalent: atomic swap of the
  * directory contents, partition-parallel write.
  */
final case class ParquetSink(path: String) extends Sink {
  def overwrite(df: DataFrame): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)
  def append(df: DataFrame): Unit =
    df.write.mode(SaveMode.Append).parquet(path)
}

/** One executor-side COPY channel. The pgjdbc adapter is
  * `new CopyManager(conn).copyIn(sql, reader)` behind this trait (the
  * jar isn't on this classpath, and specs inject a capturing fake).
  * The factory, not the connection, is shipped to executors — a
  * connection is opened per partition, like the reference opens one
  * COPY per run (`main.py:194-200`) but partition-parallel.
  */
trait CopyTarget extends Serializable {
  /** DDL/utility statement (TRUNCATE / staging CREATE / promote txn) —
    * issued from the driver for setup/promote and from executor tasks
    * for their own staging tables.
    */
  def execute(sql: String): Unit

  /** Stream CSV lines into `COPY ... FROM STDIN`; returns rows written. */
  def copyIn(sql: String, lines: Iterator[String]): Long

  def close(): Unit
}

/** The reference's CSV-for-COPY byte convention (`main.py:234-243`:
  * pandas `to_csv(index=False, header=False)` feeding
  * `COPY ... WITH (FORMAT csv, NULL '\N')`):
  *  - QUOTE_MINIMAL: a field is quoted only if it contains a comma,
  *    quote, CR or LF; inner quotes are doubled;
  *  - empty string → empty unquoted field (loads as '', §1.5 — only
  *    the bare token `\N` is NULL);
  *  - SQL NULL → `\N`;
  *  - timestamps → `yyyy-MM-dd HH:mm:ss+00:00`, with a 6-digit
  *    fractional part appended ONLY when the instant has sub-second
  *    precision (`… HH:mm:ss.SSSSSS+00:00`) — exactly pandas' tz-aware
  *    str form: whole seconds print bare, the metadata table's
  *    millisecond process timestamps print `.123000`;
  *  - `\n` line terminator.
  */
object CopyFormat {
  private val tsFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss'+00:00'")
    .withZone(java.time.ZoneOffset.UTC)
  private val tsFmtMicros = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS'+00:00'")
    .withZone(java.time.ZoneOffset.UTC)

  private def quoteMinimal(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s

  def field(v: Any): String = v match {
    case null                   => "\\N"
    case ts: java.sql.Timestamp =>
      val inst = ts.toInstant
      if (inst.getNano == 0) tsFmt.format(inst) else tsFmtMicros.format(inst)
    case other                  => quoteMinimal(other.toString)
  }

  def line(r: Row): String =
    (0 until r.length).map(i => field(r.get(i))).mkString(",") + "\n"

  def lines(rows: Iterator[Row]): Iterator[String] = rows.map(line)
}

/** COPY-speed sink (ops 10-11 at real-Postgres parity): one
  * `COPY ... FROM STDIN` stream per partition with [[CopyFormat]]
  * serialization — the reference's chunk loop (`main.py:194-251`) with
  * partitions in place of 50k-row chunks.
  *
  * STAGE-AND-PROMOTE protocol (retry-safe, atomically visible):
  *  1. driver creates + truncates one staging table per partition;
  *  2. each task TRUNCATEs its own staging table and COPYs into it —
  *     so a Spark TASK RETRY first wipes the failed attempt's partial
  *     rows instead of duplicating them (the naive direct-COPY sink
  *     silently double-loads on retry);
  *  3. the driver promotes every staging table into the target in ONE
  *     transaction (with the TRUNCATE inside it for overwrite — the
  *     reference's own single-txn TRUNCATE+COPY atomicity,
  *     `main.py:196-200`), then drops the staging tables.
  *
  * Staging tables are LOAD-SCOPED (`{table}_stg_{loadId}_{pid}`, a
  * fresh loadId per stagedLoad call), so concurrent loads of the same
  * target — overlapping append and overwrite, or a scheduler retry of a
  * presumed-dead run — cannot truncate each other's staged partitions;
  * task retries WITHIN a load share the name and stay idempotent. On
  * any failure the staged tables are best-effort dropped (and the
  * promote transaction rolled back), so aborted loads do not leak rows.
  *
  * Residual caveat: SPECULATIVE duplicate attempts of one partition can
  * interleave on that partition's staging table — run COPY jobs with
  * `spark.speculation=false` (the default). Fully speculation-proof
  * staging needs attempt-keyed tables plus a commit-coordinator hook to
  * reap losers.
  */
final case class CopySink(
    qualifiedTable: String,
    columns: Seq[String],
    connect: () => CopyTarget
) extends Sink {

  def copySql: String = copySqlFor(qualifiedTable)

  def copySqlFor(table: String): String =
    s"COPY $table (${columns.mkString(", ")}) " +
      "FROM STDIN WITH (FORMAT csv, NULL '\\N')"

  def overwrite(df: DataFrame): Unit = stagedLoad(df, truncateTarget = true)

  def append(df: DataFrame): Unit = stagedLoad(df, truncateTarget = false)

  private def stagedLoad(df: DataFrame, truncateTarget: Boolean): Unit = {
    val colList = columns.mkString(", ")
    // load-scoped staging prefix: concurrent loads never share tables
    val loadId = java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    // Written partition ids flow back through an accumulator (NOT via
    // df.rdd.getNumPartitions on the driver: materializing the RDD view
    // of an observed DataFrame silently detaches its Observation).
    // Retried tasks may report a pid twice — deduped below.
    val writtenPids =
      df.sparkSession.sparkContext.collectionAccumulator[Int]("copy_staged_pids")

    val mk = connect // ship the factory, not a connection
    val table = qualifiedTable
    val cols = columns
    def stagingTable(pid: Int): String = s"${table}_stg_${loadId}_$pid"

    import scala.jdk.CollectionConverters._
    def staged: Seq[String] = writtenPids.value.asScala.toSeq.distinct.sorted.map(stagingTable)
    try {
      df.foreachPartition { (it: Iterator[Row]) =>
        if (it.hasNext) {
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val t = s"${table}_stg_${loadId}_$pid"
          val c = mk()
          try {
            c.execute(s"CREATE TABLE IF NOT EXISTS $t (LIKE $table)")
            // retry idempotence: wipe any partial rows a failed ATTEMPT
            // of this same load left behind
            c.execute(s"TRUNCATE TABLE $t")
            c.copyIn(
              s"COPY $t (${cols.mkString(", ")}) FROM STDIN WITH (FORMAT csv, NULL '\\N')",
              CopyFormat.lines(it)
            )
            writtenPids.add(pid)
          } finally c.close()
        }
      }

      val promote = connect()
      try {
        promote.execute("BEGIN")
        try {
          if (truncateTarget) promote.execute(s"TRUNCATE TABLE $qualifiedTable")
          staged.foreach(t =>
            promote.execute(s"INSERT INTO $qualifiedTable ($colList) SELECT $colList FROM $t"))
          promote.execute("COMMIT")
        } catch {
          case e: Throwable =>
            scala.util.Try(promote.execute("ROLLBACK"))
            throw e
        }
      } finally promote.close()
    } finally {
      // success or failure: staged tables must not outlive the load
      val cleanup = connect()
      try staged.foreach(t => scala.util.Try(cleanup.execute(s"DROP TABLE IF EXISTS $t")))
      finally cleanup.close()
    }
  }
}
