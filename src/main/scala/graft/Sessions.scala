package graft

import org.apache.spark.sql.SparkSession

/** One place for the engine's session configuration — every main and
  * the test session build through here so a new setting cannot drift
  * across entry points.
  */
object Sessions {
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      // SQL function surface for the engine's native expressions
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet carries TIMESTAMP(NANOS); read as long + convert
      // in Tables.events (Spark has no nanos timestamp type).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // typed Aggregators (TopK) degrade badly on the 128-group
      // sort-based fallback; plenty of memory for object hash
      // aggregation here
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "131072")
      // file: paths through graft.fs — Hadoop's local filesystem without
      // the chmod/readlink process it forks per create, mkdirs and
      // rename when libhadoop is absent
      .config("spark.hadoop.fs.file.impl", classOf[graft.fs.ForkFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.fs.ForkFreeLocalFs].getName)

  /** Standard driver-contract session: local[N], shuffle=N.
    *
    * SPARK_GRAFT_CHECKPOINT_DIR (optional): the SCALE-RUN posture —
    * sets the SparkContext checkpoint dir and flips every
    * [[graft.ops.Materialize]] site to reliable `checkpoint()`. The
    * default `localCheckpoint()` is memory-resident with truncated
    * lineage: under heap pressure a cached block can be EVICTED and the
    * truncated lineage cannot recompute it ("Block rdd_N does not
    * exist" — the r12 full-sf10 ledger hit exactly this on the
    * iterative graph family). On a real cluster the dir is
    * HDFS/object storage; locally any disk path works.
    */
  def local(cpus: Int): SparkSession = {
    val s = builder(s"local[$cpus]", cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    sys.env.get("SPARK_GRAFT_CHECKPOINT_DIR").foreach { dir =>
      s.sparkContext.setCheckpointDir(dir)
      s.conf.set(graft.ops.Materialize.RELIABLE_CONF, "true")
    }
    s
  }
}

/** Shared filesystem helpers for one-shot scratch state. */
object FsUtil {
  def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(p)) {
      // materialize the walk, then CLOSE it — the stream holds directory
      // handles that would otherwise leak once per checkpoint cleanup
      val walk = java.nio.file.Files.walk(p)
      val paths =
        try walk.iterator().asScala.toSeq
        finally walk.close()
      paths.reverseIterator.foreach(f => java.nio.file.Files.deleteIfExists(f))
    }
  }

  private val exitDoomed =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private lazy val exitHook: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      var p = exitDoomed.poll()
      while (p != null) {
        try deleteRecursively(p) catch { case _: Throwable => () }
        p = exitDoomed.poll()
      }
    }, "graft-fsutil-exit-clean"))
  }

  /** Register a scratch directory for recursive deletion at JVM exit —
    * for sinks a caller hands back as a LAZY DataFrame read (deleting
    * eagerly would break the frame; `File.deleteOnExit` is per-file and
    * leaks non-empty dirs). One JVM shutdown hook drains the registry.
    */
  def deleteOnExit(p: java.nio.file.Path): java.nio.file.Path = {
    exitHook
    exitDoomed.add(p)
    p
  }

  private[graft] def registeredForExit(p: java.nio.file.Path): Boolean =
    exitDoomed.contains(p)
}
