package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What one operation of a workload reports back: its measured wall time,
  * the sub-spans the harness timed around calls into the engine, the reason
  * it failed, if it did, and a check of its output that the harness runs
  * after the operation's span has closed.
  */
final case class OpResult(wallS: Double, parts: Map[String, Double], error: Option[String],
    verify: () => Option[String] = () => None)

/** A workload is a fixed list of operation names; one pass runs each once.
  * `check` runs an operation and verifies its output (the set-up pass);
  * `timed` runs it the way a user would and times it.
  */
trait Workload {
  def ops: Seq[String]
  def check(name: String): OpResult
  def timed(name: String): OpResult
}

object Workload {
  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Runs `body`, turning any non-fatal exception into a failed result. */
  def guarded(t0: Long)(body: => OpResult): OpResult =
    try body
    catch {
      case scala.util.control.NonFatal(e) =>
        OpResult(seconds(t0), Map.empty, Some(s"${e.getClass.getName}: ${e.getMessage}"))
    }
}

/** A mix of declared queries over one fixed table directory. A timed
  * operation builds the query's DataFrame through `SparkEntry.queries` and
  * materializes it with a `noop` write, as `graft.Bench` does; the set-up
  * pass instead reduces the output to (row count, order-independent sum of
  * row `xxhash64`) and compares that with the committed expected value.
  */
final class MixWorkload(spark: SparkSession, dataDir: String,
    expected: Seq[(String, (Long, BigDecimal))]) extends Workload {
  import Workload._

  val ops: Seq[String] = expected.map(_._1)
  private val expect = expected.toMap

  private def build(name: String): DataFrame = graft.SparkEntry.queries(name)(spark, dataDir)

  def check(name: String): OpResult = {
    val t0 = System.nanoTime()
    guarded(t0) {
      val got = MixWorkload.fingerprint(build(name))
      val wall = seconds(t0)
      val want = expect(name)
      OpResult(wall, Map.empty,
        if (got == want) None else Some(s"output $got, expected $want"))
    }
  }

  def timed(name: String): OpResult = {
    val t0 = System.nanoTime()
    guarded(t0) {
      val df = build(name)
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      // The query's own analysis ran eagerly inside `build`, outside any
      // action, so no QueryExecutionListener sees it; read it off its tracker.
      val analysis = df.queryExecution.tracker.phases.get("analysis").map(_.durationMs / 1e3)
      OpResult((t2 - t0) / 1e9, Map("build" -> (t1 - t0) / 1e9, "exec" -> (t2 - t1) / 1e9,
        "analysis" -> analysis.getOrElse(0.0)), None)
    }
  }
}

object MixWorkload {
  /** (row count, sum of each row's xxhash64) — independent of row order.
    * The sum is taken as a 38-digit decimal so it cannot overflow. Columns
    * are renamed positionally first, so duplicate or dotted names hash too.
    */
  def fingerprint(df: DataFrame): (Long, BigDecimal) = {
    val cols = df.columns.indices.map(i => s"c$i")
    val r = df.toDF(cols: _*)
      .agg(count(lit(1)), sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }
}

/** The reference pipeline at size: each operation is one full-refresh
  * `Ingest.run` of a generated pp-complete CSV into a Parquet table, with
  * one provenance row appended to the metadata table. An operation is
  * wrong unless the run reports the generator's row count and max
  * `transaction_date`, and exactly one metadata row was appended.
  */
final class IngestWorkload(spark: SparkSession, csv: String, workDir: String,
    rows: Long, maxDate: String) extends Workload {
  import Workload._

  val ops: Seq[String] = Seq("ingest")
  private val outDir = s"$workDir/pp_complete_data"
  private val metaDir = s"$workDir/pp_complete_metadata"

  private def metaRows(): Long =
    if (new java.io.File(metaDir).exists()) spark.read.parquet(metaDir).count() else 0L

  private var runs = 0L

  private def once(): OpResult = {
    val t0 = System.nanoTime()
    guarded(t0) {
      val r = graft.ingest.Ingest.run(spark, s"file://$csv", outDir, metaDir)
      val wall = seconds(t0)
      runs += 1
      val expectedMeta = runs
      val m = r.meta
      val parts = Map(
        "fetch" -> m.download_duration_us / 1e6,
        "write" -> m.write_duration_us / 1e6,
        "read" -> m.read_duration_us / 1e6)
      val problems = Seq(
        Option.when(r.rowCount != rows)(s"rowCount ${r.rowCount}, expected $rows"),
        Option.when(!r.autoDate.map(_.toString).contains(maxDate))(
          s"autoDate ${r.autoDate}, expected $maxDate")).flatten
      OpResult(wall, parts, if (problems.isEmpty) None else Some(problems.mkString("; ")),
        () => {
          val n = metaRows()
          Option.when(n != expectedMeta)(s"$n metadata rows after $expectedMeta runs")
        })
    }
  }

  def check(name: String): OpResult = once()
  def timed(name: String): OpResult = once()
}
