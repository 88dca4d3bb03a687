package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.sun.management.GarbageCollectionNotificationInfo

/** One closed-loop client driving the engine through its public calls.
  *
  * Set-up: start the session, then run every operation once with its output
  * checked (this also builds any staged input layouts, and warms codegen).
  * Measurement: whole passes, each operation once in a seed-shuffled order,
  * for as many passes as fit in the run's seconds (at least one). Prints one
  * `PERFBENCH {json}` line of raw timings for `run.py` to reduce.
  *
  * Arguments are `--key value` pairs; see `run.py`, which starts this main.
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val t0Ms = a("t0-ms").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cpus = a("cpus").toInt
    val rnd = new scala.util.Random(a("seed").toLong)
    val tmp = new File(System.getProperty("java.io.tmpdir"))

    val c0 = System.nanoTime()
    val canaryBefore = if (trace) graft.Bench.canary() else 0.0
    val canaryWallS = (System.nanoTime() - c0) / 1e9
    val heap = new HeapWatch
    val spark = graft.Sessions.local(cpus)
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val workload: Workload = a("workload") match {
      case "ingest_pp" =>
        new IngestWorkload(spark, a("csv"), a("work"), a("rows").toLong, a("max-date"))
      case _ => new MixWorkload(spark, a("data"), readExpected(a("expected")))
    }

    def op(id: String, name: String, parent: String)(body: => OpResult): (OpResult, Map[String, Double]) =
      tracer match {
        case Some(t) =>
          val (r, c) = t.op(id, name, parent)(body)
          (r, c.synchronized(c.c.toMap))
        case None => (body, Map.empty)
      }

    val errors = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    def account(name: String, r: OpResult): Unit = {
      attempted += 1
      r.error.orElse(scala.util.Try(r.verify()).fold(e => Some(e.toString), identity))
        .foreach(e => errors += s"$name: $e")
    }

    val setup = rnd.shuffle(workload.ops).map { n =>
      val before = staged(tmp)
      val (r, _) = op(s"setup/$n", n, "setup")(workload.check(n))
      account(n, r)
      n -> Map("wall_s" -> r.wallS, "staged" -> (staged(tmp) -- before).size.toDouble)
    }.toMap
    val setupS = (System.currentTimeMillis() - t0Ms) / 1e3 - canaryWallS
    val afterSetup = staged(tmp)

    heap.reset()
    val start = System.nanoTime()
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    def elapsed = (System.nanoTime() - start) / 1e9
    do {
      val id = s"pass${passes.size}"
      val ps = System.currentTimeMillis()
      val ran = rnd.shuffle(workload.ops).map { n =>
        val (r, layers) = op(s"$id/$n", n, id)(workload.timed(n))
        account(n, r)
        (n, r, layers)
      }
      tracer.foreach(_.pass(id, ps, System.currentTimeMillis()))
      passes += Map(
        // the operations' own wall times: output checks and trace
        // bookkeeping between operations are not part of a pass
        "wall_s" -> ran.map(_._2.wallS).sum,
        "ops" -> ran.map { case (n, r, _) => n -> r.wallS }.toMap,
        "parts" -> ran.flatMap(_._2.parts.toSeq).groupMapReduce(_._1)(_._2)(_ + _),
        "layers" -> sumLayers(ran.map(_._3)))
    } while (elapsed + elapsed / passes.size <= seconds)

    val timedBuilds = staged(tmp) -- afterSetup
    if (timedBuilds.nonEmpty)
      errors += s"staged layouts built during timed passes: ${timedBuilds.toSeq.sorted.mkString(", ")}"
    val canaryAfter = if (trace) graft.Bench.canary() else 0.0
    tracer.foreach { t => t.close(); t.write(a("trace-out")) }

    val out = Map(
      "setup_s" -> setupS,
      "attempted" -> attempted,
      "errors" -> errors.toSeq,
      "setup" -> setup,
      "staging_mb" -> afterSetup.toSeq.map(n => du(new File(tmp, n))).sum / (1024.0 * 1024.0),
      "staging_builds_timed" -> timedBuilds.size,
      "passes" -> passes.toSeq,
      "heap_after_gc_mb" -> heap.peakMb,
      "canary_s" -> Seq(canaryBefore, canaryAfter))
    println("PERFBENCH " + Json.value(out))
    System.out.flush()
    spark.stop()
    sys.exit(0)
  }

  /** Per-pass layer counters: sums, except peaks, which take the maximum. */
  private def sumLayers(ops: Seq[Map[String, Double]]): Map[String, Double] =
    ops.flatMap(_.toSeq).groupMapReduce(_._1)(_._2) { (x, y) => x + y } ++
      Seq("exec.peak_mem_mb", "storage.resident_mb_after_op").flatMap { k =>
        ops.flatMap(_.get(k)).maxOption.map(k -> _)
      }

  /** Staged input layouts: the engine's `graft_*` directories in tmpdir. */
  private def staged(tmp: File): Set[String] =
    Option(tmp.list()).map(_.toSet.filter(_.startsWith("graft_"))).getOrElse(Set.empty)

  private def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L) else f.length()

  /** `name<TAB>rows<TAB>hashSum` lines, as `run.py` writes them. */
  private def readExpected(path: String): Seq[(String, (Long, BigDecimal))] =
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path)).asScala.toSeq
      .filter(_.nonEmpty).map(_.split('\t')).map {
        case Array(n, rows, hash) => n -> (rows.toLong, BigDecimal(hash))
      }
}

/** Largest heap in use right after a collection: the live set's high-water
  * mark, read from GC notifications so it costs nothing between collections.
  */
final class HeapWatch {
  @volatile var peakMb: Double = 0.0
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter =>
      e.addNotificationListener((n: Notification, _: AnyRef) => {
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          peakMb = math.max(peakMb, used / (1024.0 * 1024.0))
        }
      }, null, null)
    case _ => ()
  }

  def reset(): Unit = peakMb = 0.0
}
