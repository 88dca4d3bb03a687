package graft.fs

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.Files
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.FsUtil

/** Laws for the [[graft.fs]] filesystem: on the same paths it gives
  * the answers of the stock classes it replaces — `RawLocalFileSystem`
  * for the two methods it answers without forking, and the `file:`
  * class registered on Spark's classpath for rename.
  */
class LocalFsSpec extends AnyFunSuite {

  private def init[F <: RawLocalFileSystem](fs: F): F = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }
  private val stock = init(new RawLocalFileSystem)
  private val forkFree = init(new ForkFreeRawLocalFileSystem)

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  test("setPermission leaves the same mode bits as stock chmod, on files and directories") {
    val modes = Seq(0x1a4 /* 0644 */, 0x1ed /* 0755 */, 0x180 /* 0600 */,
      0x1c0 /* 0700 */, 0x3ff /* 1777, sticky: the fallback */)
    // and each rwx bit alone, on files only: cleanup must still be
    // able to list every directory
    val root = Files.createTempDirectory("localfs-perm-")
    try {
      for ((m, dir) <- modes.flatMap(m => Seq(m -> false, m -> true)) ++
             (0 until 9).map(i => (1 << i) -> false)) {
        def make(tag: String) = {
          val p = root.resolve(f"$tag-$m%o-$dir")
          if (dir) Files.createDirectory(p) else Files.createFile(p)
        }
        val (a, b) = (make("stock"), make("forkfree"))
        val perm = new FsPermission(m.toShort)
        stock.setPermission(new Path(a.toString), perm)
        forkFree.setPermission(new Path(b.toString), perm)
        assert(mode(a) == m, f"stock chmod gave ${mode(a)}%o for $m%o")
        assert(mode(b) == mode(a), f"mode $m%o (dir=$dir): fork-free ${mode(b)}%o, stock ${mode(a)}%o")
      }
    } finally FsUtil.deleteRecursively(root)
  }

  test("getFileLinkStatus agrees with stock on a file, a directory, a missing path and symlinks") {
    val root = Files.createTempDirectory("localfs-link-")
    try {
      val file = Files.write(root.resolve("file"), "twelve bytes".getBytes("UTF-8"))
      val dir = Files.createDirectory(root.resolve("dir"))
      val link = Files.createSymbolicLink(root.resolve("link"), file)
      val dangling = Files.createSymbolicLink(root.resolve("dangling"), root.resolve("gone"))
      // the fields compared, or the exception thrown
      def outcome(fs: RawLocalFileSystem, p: Path): Either[Class[_], Any] =
        scala.util.Try(fs.getFileLinkStatus(p)).toEither.map { s =>
          (s.isFile, s.isDirectory, s.isSymlink, s.getLen, s.getPath,
            if (s.isSymlink) s.getSymlink else null)
        }.left.map(_.getClass)
      // both path forms: a plain absolute path and a qualified file: URI
      // (stock resolves symlinks only in the plain form)
      for (p <- Seq(file, dir, link, dangling); form <- Seq("plain", "qualified")) {
        val hp =
          if (form == "plain") new Path(p.toString) else stock.makeQualified(new Path(p.toString))
        assert(outcome(forkFree, hp) == outcome(stock, hp), s"${p.getFileName} ($form)")
      }
      assert(forkFree.getFileLinkStatus(new Path(link.toString)).isSymlink,
        "the plain-path symlink case must exercise a symlink")
      val missing = new Path(root.resolve("missing").toString)
      intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
      intercept[FileNotFoundException](forkFree.getFileLinkStatus(missing))
    } finally FsUtil.deleteRecursively(root)
  }

  test("rename outcomes and resulting trees equal those of the file: class Spark's jars register") {
    // the service-registered file: class in force without fs.file.impl
    val registered = new org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem
    val forkFreeFs = new ForkFreeLocalFileSystem
    val conf = new Configuration()
    Seq(registered, forkFreeFs).foreach(_.initialize(URI.create("file:///"), conf))
    def scenario(fs: org.apache.hadoop.fs.FileSystem) = {
      val root = Files.createTempDirectory("localfs-rename-")
      try {
        def p(rel: String) = new Path(root.resolve(rel).toString)
        Files.write(root.resolve("a"), "a".getBytes("UTF-8"))
        Files.write(root.resolve("b"), "b".getBytes("UTF-8"))
        Files.createDirectories(root.resolve("d1/sub"))
        Files.write(root.resolve("d1/sub/f"), "f".getBytes("UTF-8"))
        Files.createDirectory(root.resolve("d2"))
        // the returned flag, or the exception thrown
        def rename(src: String, dst: String): Either[Class[_], Boolean] =
          scala.util.Try(fs.rename(p(src), p(dst))).toEither.left.map(_.getClass)
        val outcomes = Seq(
          rename("a", "b"),       // onto an existing file
          rename("a", "a2"),      // onto a free name
          rename("d1", "d2"),     // onto an existing directory
          rename("missing", "x")) // a missing source
        val walk = Files.walk(root)
        val tree =
          try walk.iterator().asScala.toSeq.map { f =>
            root.relativize(f).toString ->
              (if (Files.isRegularFile(f)) new String(Files.readAllBytes(f), "UTF-8") else "/")
          }.sorted
          finally walk.close()
        (outcomes, tree)
      } finally FsUtil.deleteRecursively(root)
    }
    val (want, got) = (scenario(registered), scenario(forkFreeFs))
    assert(want._1 == Seq(Right(false), Right(true), Right(true),
      Left(classOf[java.io.FileNotFoundException])), s"registered class: ${want._1}")
    assert(got == want)
  }
}
