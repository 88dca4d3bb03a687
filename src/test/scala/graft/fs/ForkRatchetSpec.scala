package graft.fs

import java.net.URI
import java.nio.file.{Files, StandardCopyOption}
import java.nio.file.attribute.FileTime
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FileContext, FileSystem}
import graft.{FsUtil, SparkSpec}
import graft.ops.Staged
import graft.streaming.Replay

/** Ratchet: the engine's local file operations start no `chmod`,
  * `readlink`, `ls` or `stat` process. Stock Hadoop without libhadoop
  * forks one per file create, `mkdirs` and rename; [[graft.Sessions]]
  * installs the [[graft.fs]] filesystem that does not. Checked with an
  * in-process JFR recording of `jdk.ProcessStart` around the three
  * write paths that fork most: a stateful streaming replay (checkpoint
  * and state-store files), a cold staged-layout build and a parquet
  * overwrite.
  */
class ForkRatchetSpec extends SparkSpec {

  private val Forbidden = Set("chmod", "readlink", "ls", "stat")

  test("the session resolves file: to the graft.fs classes on both Hadoop APIs") {
    val conf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.newHadoopConf()
    // FileSystem instances are cached per scheme, not per conf: this pins
    // that the first one created for file: is the engine's
    assert(FileSystem.get(URI.create("file:///"), conf).getClass == classOf[ForkFreeLocalFileSystem])
    assert(FileContext.getFileContext(URI.create("file:///"), conf).getDefaultFileSystem.getClass ==
      classOf[ForkFreeLocalFs])
  }

  test("a stateful replay, a cold staged-layout build and a parquet overwrite fork no chmod/readlink/ls/stat") {
    val root = Files.createTempDirectory("fork-ratchet-")
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    var layout: String = null
    try {
      // two event files with distinct mtimes: two micro-batches of a
      // watermarked window aggregate (state store + checkpoint logs)
      val events = root.resolve("events")
      Files.createDirectory(events)
      val raw = spark.read.parquet(s"$sf0001/events.parquet")
      val rows = raw.orderBy("ts").collect()
      rows.grouped((rows.length + 1) / 2).zipWithIndex.foreach { case (half, i) =>
        val slice = root.resolve(s"slice$i").toString
        spark.createDataFrame(java.util.Arrays.asList(half: _*), raw.schema).coalesce(1)
          .write.mode("overwrite").parquet(slice)
        val part = Files.list(java.nio.file.Paths.get(slice))
          .filter(_.toString.endsWith(".parquet")).findFirst.get
        val dest = events.resolve(s"0$i.parquet")
        Files.move(part, dest, StandardCopyOption.REPLACE_EXISTING)
        Files.setLastModifiedTime(dest, FileTime.fromMillis(1000000000000L + i * 60000L))
      }
      val out = Replay.replayToParquet(
        Replay.windowedCounts(Replay.readEvents(spark, events.toString)),
        root.resolve("out").toString)
      assert(out.count() > 0)
      // a fresh source file gives a fresh layout key: a cold build
      val src = Files.write(root.resolve("layout-src"), Array[Byte](1))
      layout = Staged.layout(spark, "fork_ratchet", Seq(src.toString)) { tmp =>
        spark.range(100).write.parquet(tmp)
      }
      val ow = root.resolve("overwrite").toString
      spark.range(100).write.mode("overwrite").parquet(ow)
      spark.range(50).write.mode("overwrite").parquet(ow)
      assert(spark.read.parquet(ow).count() == 50)
    } finally {
      rec.stop()
      if (layout != null) FsUtil.deleteRecursively(java.nio.file.Paths.get(layout))
    }
    val jfr = root.resolve("forks.jfr")
    rec.dump(jfr)
    rec.close()
    val commands =
      try jdk.jfr.consumer.RecordingFile.readAllEvents(jfr).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
      finally FsUtil.deleteRecursively(root)
    val forbidden = commands.filter { c =>
      Forbidden(c.trim.split("\\s+").head.split('/').last)
    }
    if (forbidden.nonEmpty)
      fail(s"${forbidden.size} of ${commands.size} forked processes are chmod/readlink/ls/stat, " +
        s"e.g. ${forbidden.take(3).mkString("; ")}")
  }
}
