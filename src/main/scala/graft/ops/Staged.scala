package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Staged input layouts: the one place that decides whether a derived
  * input layout (a partitioned or clustered copy, an index, a replay
  * staging, the quarantine ingest's sinks) is current and complete.
  *
  * The key is an md5 over every source's path, size and mtime, and over
  * the bytes of the class that defines the `build` closure: the
  * lambda's implementation class, such as `graft.ops.Partitioned$` for a
  * closure written in `Partitioned`. So regenerated source data and an
  * edited build class both get a fresh key. Helpers the build calls in
  * other classes (`Tables.events`, `QueueBroker.writeShardLogs`,
  * `AvroIo.write`) are not covered: an edit there keeps the old key.
  *
  * A miss builds into a private sibling directory, writes the marker
  * [[Marker]] holding the key into it, and publishes it with one rename
  * ([[buildAtomically]]). A layout is complete exactly when its marker
  * holds the expected key, so readers see a complete, current layout or
  * none. A layout that records paths of its own files must record them
  * relative to its root, because `build` writes under a directory that
  * is renamed afterwards.
  */
object Staged {

  /** The directory every layout lives under: `java.io.tmpdir`. */
  def root: String = System.getProperty("java.io.tmpdir")

  /** The JVM's launch tmpdir, where `Files.createTempDirectory` keeps
    * putting replay and sink dirs: the JDK reads it once at start-up,
    * so [[isolated]] moves [[root]] but not this.
    */
  private[graft] val jvmRoot: String = root

  /** Runs `body` with [[root]] moved to a fresh empty directory, deleted
    * afterwards, so every layout `body` stages is built cold whatever
    * the JVM's tmpdir already holds.
    */
  private[graft] def isolated[T](body: => T): T = {
    val (outer, dir) = (root, java.nio.file.Files.createTempDirectory("graft-isolated-"))
    System.setProperty("java.io.tmpdir", dir.toString)
    try body
    finally {
      System.setProperty("java.io.tmpdir", outer)
      graft.FsUtil.deleteRecursively(dir)
    }
  }

  /** The file, at a layout's root, whose content is the layout's key. */
  private[ops] val Marker = "_graft_staged"

  /** A per-run output location named after `sources` only; nothing is
    * built or cached there.
    */
  def path(name: String, sources: Seq[String]): String =
    s"$root/graft_${name}_${md5(signature(sources))}"

  /** The staged layout `name` over `sources`, at
    * `${root}/graft_<name>_<key>`: built by `build` unless it is
    * already current.
    */
  def layout(s: SparkSession, name: String, sources: Seq[String])(build: String => Unit): String = {
    val k = key(sources, build)
    val out = s"$root/graft_${name}_$k"
    ensure(s, out, k)(build)
    out
  }

  /** Publishes `build`'s output at the caller-chosen `out` under the
    * same rule as [[layout]]: nothing runs while `out` is current for
    * `sources` and `build`, and an `out` of any other key is replaced.
    */
  def publish(s: SparkSession, out: String, sources: Seq[String])(build: String => Unit): Unit =
    ensure(s, out, key(sources, build))(build)

  private def ensure(s: SparkSession, out: String, k: String)(build: String => Unit): Unit =
    if (!current(s, out, k)) buildAtomically(s, out, k, () => current(s, out, k))(build)

  /** Whether `out`'s marker holds `k`, read through the Hadoop
    * FileSystem (a `java.io.File` check always misses on a non-local
    * deployment and would rebuild on every call).
    */
  private[ops] def current(s: SparkSession, out: String, k: String): Boolean = {
    val p = new Path(out, Marker)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    try {
      val in = fs.open(p)
      try new String(in.readAllBytes(), "UTF-8") == k finally in.close()
    } catch { case _: java.io.FileNotFoundException => false }
  }

  private[ops] def key(sources: Seq[String], build: AnyRef): String =
    md5(s"${signature(sources)}|${buildDigest(build)}")

  /** Every source's path, size and mtime: regenerated data at the same
    * path gets a fresh key, so a layout of a previous corpus never
    * serves (it would silently diverge from the oracle, which always
    * reads the live file).
    */
  private def signature(paths: Seq[String]): String =
    paths.map { p =>
      val f = java.nio.file.Paths.get(p)
      val (sz, mt) =
        if (java.nio.file.Files.exists(f))
          (java.nio.file.Files.size(f), java.nio.file.Files.getLastModifiedTime(f).toMillis)
        else (0L, 0L)
      s"$p:$sz:$mt"
    }.mkString("|")

  /** Full md5, not a 32-bit hash: at 2³² a birthday collision between
    * two corpora is a real hazard for a shared tmpdir, and a collision
    * here silently serves the WRONG layout.
    */
  private def md5(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(bytes).map("%02x".format(_)).mkString

  private def md5(text: String): String = md5(text.getBytes("UTF-8"))

  private val classDigests = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** md5 of the class file that defines `build`, read once per JVM. A
    * Scala lambda's own class is a hidden class whose name carries a
    * per-JVM counter, so the key takes its implementation class from
    * the lambda's serialized form (every Scala lambda is serializable).
    * A build whose class file cannot be read fails: a key of the
    * sources alone could serve a stale layout.
    */
  private def buildDigest(build: AnyRef): String = {
    val c = build.getClass
    val replace = c.getDeclaredMethod("writeReplace")
    replace.setAccessible(true)
    val defining = replace.invoke(build).asInstanceOf[java.lang.invoke.SerializedLambda].getImplClass
    classDigests.computeIfAbsent(defining, name => {
      val in = c.getClassLoader.getResourceAsStream(s"$name.class")
      if (in == null)
        throw new IllegalStateException(s"cannot read $name.class, which defines a staged layout's build")
      try md5(in.readAllBytes()) finally in.close()
    })
  }

  /** Runs `build` into a private sibling of `out`, writes the marker
    * holding `k` into it, then RENAMES the whole directory into place
    * (one FS metadata op on a local/HDFS filesystem), so a concurrent
    * builder of the same key or a crash between part writes never
    * leaves a layout whose parts disagree. A target that is not
    * current (a crashed earlier build, or a caller-chosen `out` of
    * another key) is deleted first; a current one is never touched, so
    * a concurrent reader cannot hit missing files mid-swap.
    *
    * Race handling is Hadoop-rename-aware: `fs.rename(tmp, out)` onto
    * an EXISTING directory does not refuse — HDFS (and the local FS's
    * copy fallback) moves tmp INTO the target as a child and returns
    * true, which would silently nest a loser's full duplicate build
    * inside the published layout (duplicate rows on recursive
    * listings). So a racer (1) re-checks `isCurrent` immediately
    * before renaming and discards its tmp if a winner is already in
    * place, and (2) after a "successful" rename verifies that
    * `out/<tmp-basename>` does NOT exist — if it does, the rename was
    * actually a nest-into-winner, so the nested copy is deleted and
    * the race treated as lost. A rename failure with a current winner
    * in place is likewise a lost race (discard tmp); a rename failure
    * with NO winner throws instead of silently returning a path that
    * doesn't exist.
    */
  private[ops] def buildAtomically(s: SparkSession, out: String, k: String,
      isCurrent: () => Boolean)(build: String => Unit): Unit = {
    val outPath = new Path(out)
    val fs = outPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    val tmp = new Path(out + ".build-" + java.util.UUID.randomUUID().toString)
    build(tmp.toString)
    val marker = fs.create(new Path(tmp, Marker), true)
    try marker.write(k.getBytes("UTF-8")) finally marker.close()
    if (fs.exists(outPath) && !isCurrent()) fs.delete(outPath, true)
    // lost-race fast path: a current winner published while we built
    if (isCurrent()) { fs.delete(tmp, true); return }
    if (!fs.rename(tmp, outPath)) {
      fs.delete(tmp, true)
      if (!isCurrent())
        throw new java.io.IOException(
          s"atomic publish of $out failed: rename refused and no current layout occupies the target")
    } else {
      // rename returned true — but if a winner appeared between the
      // check and the rename, Hadoop moved tmp INTO it as a child
      // rather than refusing. Detect and discard the nested duplicate;
      // the winner's layout stays published.
      val nested = new Path(outPath, tmp.getName)
      if (fs.exists(nested)) fs.delete(nested, true)
      if (!isCurrent())
        throw new java.io.IOException(
          s"atomic publish of $out failed: rename landed but the layout is not current")
    }
  }
}
