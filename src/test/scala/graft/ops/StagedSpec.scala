package graft.ops

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import graft.SparkSpec

/** Two identical builds defined in two classes: the build-identity
  * law's fixtures.
  */
object StagedSpecBuildA {
  var builds = 0
  val build: String => Unit = { tmp => builds += 1; SparkSpec.session.range(3).write.parquet(tmp) }
}

object StagedSpecBuildB {
  var builds = 0
  val build: String => Unit = { tmp => builds += 1; SparkSpec.session.range(3).write.parquet(tmp) }
}

/** Staged input layouts: the key over sources and build class, the
  * marker, the atomic publish, and the rule that a layout records its
  * own files relative to its root.
  */
class StagedSpec extends SparkSpec {

  /** Stage a 3-row layout over `src`, counting the builds it runs. */
  private class Counted(src: Path) {
    var builds = 0
    val build: String => Unit = { tmp =>
      builds += 1
      spark.range(3).write.parquet(tmp)
    }
    def stage(): String = Staged.layout(spark, "staged_spec", Seq(src.toString))(build)
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
    val key = Staged.key(Seq(src.toString), c.build)
    assert(first == s"${Staged.root}/graft_staged_spec_$key")
    assert(Files.readString(Paths.get(first, Staged.Marker)) == key)
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

  test("layout: builds defined in two classes get two directories and two builds") {
    val src = source(16)
    val (a0, b0) = (StagedSpecBuildA.builds, StagedSpecBuildB.builds)
    val a = Staged.layout(spark, "staged_law", Seq(src.toString))(StagedSpecBuildA.build)
    val b = Staged.layout(spark, "staged_law", Seq(src.toString))(StagedSpecBuildB.build)
    assert(a != b, "a build of another class must not be served this one's layout")
    assert(StagedSpecBuildA.builds - a0 == 1 && StagedSpecBuildB.builds - b0 == 1)
    Seq(a, b).foreach(d => graft.FsUtil.deleteRecursively(Paths.get(d)))
    Files.delete(src)
  }

  test("layout: the same closure staged from two call sites gives one directory and one build") {
    val src = source(16)
    val a0 = StagedSpecBuildA.builds
    val first = Staged.layout(spark, "staged_law", Seq(src.toString))(StagedSpecBuildA.build)
    val second = Staged.layout(spark, "staged_law", Seq(src.toString))(StagedSpecBuildA.build)
    assert(first == second && StagedSpecBuildA.builds - a0 == 1)
    // two lambdas of one class are two hidden classes, one key
    val f: String => Unit = _ => ()
    val g: String => Unit = _ => ()
    assert(f.getClass != g.getClass)
    assert(Staged.key(Seq(src.toString), f) == Staged.key(Seq(src.toString), g))
    graft.FsUtil.deleteRecursively(Paths.get(first))
    Files.delete(src)
  }

  test("layout: a directory without its marker is rebuilt, not served") {
    val src = source(16)
    val c = new Counted(src)
    val out = Paths.get(s"${Staged.root}/graft_staged_spec_${Staged.key(Seq(src.toString), c.build)}")
    // a crashed build's leftovers at the layout's path
    Files.createDirectories(out)
    Files.write(out.resolve("debris"), Array[Byte](1))
    assert(c.stage() == out.toString && c.builds == 1)
    assert(!Files.exists(out.resolve("debris")) && spark.read.parquet(out.toString).count() == 3)
    graft.FsUtil.deleteRecursively(out)
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
    val current = () => Staged.current(spark, out, "k")
    // winner publishes first
    Staged.buildAtomically(spark, out, "k", current) { tmp =>
      spark.range(3).toDF("winner").write.parquet(tmp)
    }
    val winnerFiles = new java.io.File(out).listFiles().map(_.getName).toSet
    // loser builds a DIFFERENT layout against the same target
    Staged.buildAtomically(spark, out, "k", current) { tmp =>
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
    // Simulate the race window with a side-effecting marker check: it
    // publishes the winner DURING the loser's pre-rename check, so the
    // loser's rename lands on an occupied target.
    val root = java.nio.file.Files.createTempDirectory("graft_atomic_race_")
    val out = root.resolve("layout").toString
    var checks = 0
    val current = () => {
      checks += 1
      val exists = Staged.current(spark, out, "k")
      if (!exists && checks == 1) {
        // the racing winner publishes now (post-build, pre-rename)
        spark.range(5).toDF("winner").write.parquet(out)
        Files.writeString(Paths.get(out, Staged.Marker), "k")
        false // loser still believes the target is free
      } else exists
    }
    Staged.buildAtomically(spark, out, "k", current) { tmp =>
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
    val walk = Files.walk(Paths.get("src/main"))
    val sources =
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
          .map(f => f.toString -> new String(Files.readAllBytes(f), "UTF-8")).toSeq
      } finally walk.close()
    assert(sources.size > 50, s"source walk found only ${sources.size} files")
    val offenders = for {
      (name, text) <- sources
      if name != "src/main/scala/graft/ops/Staged.scala"
      word <- Seq("java.io.tmpdir", "MurmurHash3", "buildAtomically")
      if text.contains(word)
    } yield s"$name: $word"
    assert(offenders.isEmpty, s"layout decisions outside Staged: ${offenders.mkString(", ")}")
    // the key covers the build class, so no layout carries a hand-kept
    // `_mN` version suffix
    val suffixed = for {
      (name, text) <- sources
      lit <- "\"[^\"\n]*\"".r.findAllIn(text)
      if "_m[0-9]".r.findFirstIn(lit).isDefined
    } yield s"$name: $lit"
    assert(suffixed.isEmpty, s"layout names with a version suffix: ${suffixed.mkString(", ")}")
  }
}
