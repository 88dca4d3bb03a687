package graft.ops

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import graft.SparkSpec

/** Staged input layouts: the content key, the atomic publish, and the
  * rule that a layout records its own files relative to its root.
  */
class StagedSpec extends SparkSpec {

  /** Stage a 3-row layout over `src`, counting the builds it runs. */
  private class Counted(src: Path) {
    var builds = 0
    def stage(): String =
      Staged.layout(spark, "staged_spec", Seq(src.toString)) { tmp =>
        builds += 1
        spark.range(3).write.parquet(tmp)
      }
  }

  private def source(bytes: Int): Path = {
    val src = Files.createTempFile("staged-spec-src-", ".bin")
    Files.write(src, Array.fill[Byte](bytes)(1))
    src
  }

  test("layout: the same sources give the same directory and do not rebuild") {
    val src = source(16)
    val c = new Counted(src)
    val first = c.stage()
    val again = c.stage()
    assert(first == again && c.builds == 1, s"${c.builds} builds for one key")
    assert(first == Staged.path("staged_spec", Seq(src.toString)))
    // one graft_* directory directly under java.io.tmpdir
    val p = Paths.get(first)
    assert(p.getParent == Paths.get(System.getProperty("java.io.tmpdir")))
    assert(p.getFileName.toString.startsWith("graft_staged_spec_"))
    assert(spark.read.parquet(first).count() == 3)
    graft.FsUtil.deleteRecursively(p)
    Files.delete(src)
  }

  test("layout: a source's new size or mtime gives a new directory and a rebuild") {
    val src = source(16)
    val c = new Counted(src)
    val original = c.stage()
    val mtime = Files.getLastModifiedTime(src)

    Files.setLastModifiedTime(src, FileTime.fromMillis(mtime.toMillis + 60000L))
    val touched = c.stage()
    assert(touched != original && c.builds == 2, "an mtime change must rebuild")

    // same mtime as the previous build, different size
    Files.write(src, Array.fill[Byte](32)(1))
    Files.setLastModifiedTime(src, FileTime.fromMillis(mtime.toMillis + 60000L))
    val resized = c.stage()
    assert(resized != touched && resized != original && c.builds == 3,
      "a size change must rebuild")
    Seq(original, touched, resized).foreach(d => graft.FsUtil.deleteRecursively(Paths.get(d)))
    Files.delete(src)
  }

  test("no manifest row of the clustered, Bloom, versioned or vacuum layouts names an absolute path") {
    def rows(root: String, manifest: String): Seq[String] =
      spark.read.parquet(s"$root/$manifest").select("file").distinct()
        .collect().map(_.getString(0)).toSeq
    // a versioned layout's files are the ones its commit log shows at head
    def head(root: String): Seq[String] = {
      val log = s"$root/_graft_log"
      Partitioned.manifestFiles(spark, log, Partitioned.headVersion(spark, log))
    }
    val clustered = Partitioned.eventsClustered(spark, sf0001)
    val bloom = Partitioned.eventsBloomLayout(spark, sf0001)
    val versioned = Partitioned.eventsVersioned(spark, sf0001)
    val vacuumed = Partitioned.vacuumedLayout(spark, sf0001)
    val layouts = Seq(
      clustered -> rows(clustered, "_graft_manifest"),
      bloom -> rows(bloom, "_graft_manifest"),
      versioned -> head(versioned),
      vacuumed -> head(vacuumed))
    for ((root, files) <- layouts) {
      assert(files.nonEmpty, s"empty manifest under $root")
      val absolute = files.filter(f => f.startsWith("/") || f.contains(":"))
      assert(absolute.isEmpty, s"$root records absolute paths: ${absolute.take(3)}")
    }
    // the relative names resolve against the published root (a vacuum
    // reclaims only files below its horizon, never a head file)
    for ((root, files) <- layouts; f <- files)
      assert(Files.exists(Paths.get(s"$root/$f")), s"$root/$f does not exist")
  }

  test("buildAtomically: a lost race discards the loser's build and never touches the winner") {
    val root = java.nio.file.Files.createTempDirectory("graft_atomic_spec_")
    val out = root.resolve("layout").toString
    // winner publishes first
    Staged.buildAtomically(spark, out) { tmp =>
      spark.range(3).toDF("winner").write.parquet(tmp)
    }
    val winnerFiles = new java.io.File(out).listFiles().map(_.getName).toSet
    // loser builds a DIFFERENT layout against the same target
    Staged.buildAtomically(spark, out) { tmp =>
      spark.range(100).toDF("loser").write.parquet(tmp)
    }
    // winner untouched byte-for-byte (same file set, same schema), no
    // .build- temp dirs left, nothing nested inside the layout
    assert(new java.io.File(out).listFiles().map(_.getName).toSet == winnerFiles)
    assert(spark.read.parquet(out).columns.toSeq == Seq("winner"))
    assert(!root.toFile.listFiles().exists(_.getName.contains(".build-")),
      "loser's temp build dir not cleaned up")
  }

  test("buildAtomically: a winner appearing between the completeness check and the rename is not corrupted") {
    // Hadoop rename(tmp, existing-dir) moves tmp INSIDE the target and
    // returns true — the loser must detect and delete the nested copy.
    // Simulate the race window with a side-effecting completeness
    // predicate: it publishes the winner DURING the loser's pre-rename
    // check, so the loser's rename lands on an occupied target.
    val root = java.nio.file.Files.createTempDirectory("graft_atomic_race_")
    val out = root.resolve("layout").toString
    var checks = 0
    val complete = () => {
      checks += 1
      val exists = Staged.successExists(spark, out)
      if (!exists && checks == 1) {
        // the racing winner publishes now (post-build, pre-rename)
        spark.range(5).toDF("winner").write.parquet(out)
        false // loser still believes the target is free
      } else exists
    }
    Staged.buildAtomically(spark, out, complete) { tmp =>
      spark.range(200).toDF("loser").write.parquet(tmp)
    }
    // winner's layout intact and readable; the loser's nested duplicate
    // (out/<tmp-basename>) was detected and removed
    assert(spark.read.parquet(out).columns.toSeq == Seq("winner"))
    assert(spark.read.parquet(out).count() == 5)
    assert(!new java.io.File(out).listFiles().exists(_.getName.contains(".build-")),
      "loser's build nested inside the published layout")
  }

  test("outside Staged, no main source names java.io.tmpdir, MurmurHash3 or buildAtomically") {
    // the one exemption: the quarantine ingest publishes into a
    // caller-chosen output dir, not a staged layout, so it calls the
    // publish primitive itself
    val publishExempt = Set("src/main/scala/graft/ingest/Ingest.scala")
    val walk = Files.walk(Paths.get("src/main"))
    val sources =
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      } finally walk.close()
    assert(sources.size > 50, s"source walk found only ${sources.size} files")
    val offenders = for {
      f <- sources
      name = f.toString
      if name != "src/main/scala/graft/ops/Staged.scala"
      text = new String(Files.readAllBytes(f), "UTF-8")
      word <- Seq("java.io.tmpdir", "MurmurHash3", "buildAtomically")
      if text.contains(word) && !(word == "buildAtomically" && publishExempt(name))
    } yield s"$name: $word"
    assert(offenders.isEmpty, s"layout decisions outside Staged: ${offenders.mkString(", ")}")
  }
}
