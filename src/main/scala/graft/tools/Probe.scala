package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}

/** Dev probe for declared queries, run against the sf dir named by
  * `SPARK_GRAFT_SF_DIR` on `SPARK_GRAFT_CPUS` cores (the
  * [[graft.Bench]] environment). Not part of the shipped surface.
  *
  *   sbt "runMain graft.tools.Probe plan q1,q2,..."
  *   sbt "runMain graft.tools.Probe time q1,q2,... [--jobs]"
  *
  * `plan` prints each query's formatted physical plan ([[render]]), for
  * ad-hoc looks at any scale; the committed plans are
  * [[graft.PlanDump]]'s ledger, printed by the same renderer.
  * `time` runs each query twice into a `noop` sink, prints both wall
  * times (the first includes any cold staging build) and then the final
  * adaptive plan; `--jobs` prints every Spark job's wall time and run
  * (`<query>/run<i>`) instead of the plan.
  */
object Probe {
  private val exprId = """#(\d+)""".r
  private val planId = """plan_id=(\d+)""".r
  private val lambdaVar = """(?<=\blambda [a-z]{1,8}_)(\d+)\b""".r
  private val commonExpr = """(?<=\b_common_expr_)(\d+)\b""".r
  private val rddId = """RDD\[\d+\]""".r
  private val objHash = """(?<=[\w$])@[0-9a-f]{1,8}\b""".r
  private val lambdaId = """\$Lambda\$\d+/0x[0-9a-f]+""".r
  private val uuid = """\b[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}\b""".r
  private val stagedKey = """\b(graft_\w*?_)[0-9a-f]{32}(?![0-9a-f])""".r
  private val tempSuffix = """(<tmpdir>/[\w.-]*?-)\d+(?![\w-])""".r

  /** A formatted physical plan with everything that varies between
    * runs, JVMs and checkouts normalised, as Spark's own
    * `PlanStabilitySuite` does; no line is dropped or reordered.
    * Expression ids (`#123`), Exchange `plan_id`s and the JVM-wide
    * lambda-variable (`lambda x_7`) and common-subexpression
    * (`_common_expr_9`) counters are renumbered in first-seen order; RDD ids, `@hash` object suffixes, lambda class
    * numbers and per-run UUIDs are masked. The tmpdir, warehouse and
    * checkout roots become `<tmpdir>`, `<warehouse>` and `<checkout>`
    * with the path below them kept, and so do the [[graft.ops.Staged]]
    * key in `graft_<name>_<key>` and the random suffix of a JDK temp
    * dir (`replay-<tag>-in-<n>`). A real plan change is then the only
    * thing a `diff` shows.
    */
  def render(qe: QueryExecution): String = {
    val plan = qe.explainString(ExplainMode.fromString("formatted"))
    def renumber(text: String, re: scala.util.matching.Regex, show: Int => String): String = {
      val seen = scala.collection.mutable.HashMap.empty[String, Int]
      re.replaceAllIn(text, m =>
        scala.util.matching.Regex.quoteReplacement(
          show(seen.getOrElseUpdate(m.group(1), seen.size + 1))))
    }
    val ids = Seq[(scala.util.matching.Regex, Int => String)](exprId -> (i => s"#$i"),
      planId -> (i => s"plan_id=$i"), lambdaVar -> (_.toString), commonExpr -> (_.toString))
      .foldLeft(plan) { case (t, (re, show)) => renumber(t, re, show) }
    val roots = Seq(
      graft.ops.Staged.root -> "<tmpdir>", graft.ops.Staged.jvmRoot -> "<tmpdir>",
      qe.sparkSession.conf.get("spark.sql.warehouse.dir").stripPrefix("file:") -> "<warehouse>",
      graft.ops.IngestQueries.checkout -> "<checkout>")
      .map { case (root, token) => java.nio.file.Paths.get(root).normalize.toString -> token }
      .sortBy(-_._1.length) // a root inside another one is masked first
      .map { case (root, token) =>
        s"""(?<![\\w.-])${java.util.regex.Pattern.quote(root)}(?![\\w.-])""".r -> token }
    val masked = (Seq(rddId -> "RDD[N]", lambdaId -> "\\$Lambda", uuid -> "<uuid>",
      stagedKey -> "$1<key>") ++ roots ++ Seq(tempSuffix -> "$1<n>"))
      .foldLeft(ids) { case (t, (re, to)) => re.replaceAllIn(t, to) }
    objHash.replaceAllIn(masked, "@N")
  }

  def main(args: Array[String]): Unit = {
    val usage = "usage: Probe plan <q1,q2,...> | Probe time <q1,q2,...> [--jobs]"
    require(args.length >= 2 && Set("plan", "time")(args(0)), usage)
    val names = args(1).split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      throw new IllegalArgumentException("SPARK_GRAFT_SF_DIR must name an sf dir"))
    val spark = graft.Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    def query(n: String): DataFrame = graft.SparkEntry.queries(n)(spark, d)

    if (args(0) == "plan") names.foreach(n => println(render(query(n).queryExecution)))
    else {
      val jobs = args.drop(2).contains("--jobs")
      if (jobs)
        spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
          private val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
          override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            starts.put(j.jobId, (System.nanoTime(), j.properties.getProperty("spark.jobGroup.id")))
          override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
            val (t0, run) = starts.remove(j.jobId)
            println(f"JOB ${j.jobId}%4d ${(System.nanoTime() - t0) / 1e9}%7.3f s $run")
          }
        })
      for (n <- names; i <- 1 to 2) {
        // the job group names the run each JOB line belongs to: the
        // listener prints asynchronously, so a run's last JOB line can
        // land after its TIMING line
        spark.sparkContext.setJobGroup(s"$n/run$i", s"$n run $i")
        val t0 = System.nanoTime()
        val df = query(n)
        df.write.format("noop").mode("overwrite").save()
        println(f"TIMING $n run$i ${(System.nanoTime() - t0) / 1e9}%.2f s")
        if (i == 2 && !jobs) println(render(df.queryExecution))
      }
    }
    spark.stop()
  }
}
