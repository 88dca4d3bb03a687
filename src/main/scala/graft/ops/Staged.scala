package graft.ops

import org.apache.spark.sql.SparkSession

/** Staged input layouts: the one place that decides how a derived
  * input layout (a partitioned or clustered copy, an index, a replay
  * staging) is named, keyed, guarded and published.
  *
  * A layout lives at `${java.io.tmpdir}/graft_<name>_<key>`, where the
  * key is an md5 of every source's path, size and mtime ([[sourceKey]]),
  * so regenerated source data always gets a fresh directory. A miss
  * builds the layout in a private sibling directory and publishes it
  * with one rename ([[buildAtomically]]), so readers see a complete
  * layout or none. The key does not cover the build code: a change to
  * what a layout's build writes must rename the layout (the `_m1`,
  * `_m2` suffixes), or the old layout keeps serving.
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

  /** Location of the layout `name` over `sources`, built or not. */
  def path(name: String, sources: Seq[String]): String =
    s"$root/graft_${name}_${sourceKey(sources)}"

  /** The staged layout `name` over `sources`: its path, after `build`
    * has written it into a private directory and that directory has
    * been published, unless a complete layout is already there.
    * `complete` lists the files, relative to the layout root, whose
    * presence marks the layout complete. A layout that records paths
    * of its own files must record them relative to its root, because
    * `build` writes under a directory that is renamed afterwards.
    */
  def layout(s: SparkSession, name: String, sources: Seq[String],
      complete: Seq[String] = Seq("_SUCCESS"))(build: String => Unit): String = {
    val out = path(name, sources)
    def done() = complete.forall { f =>
      val p = new org.apache.hadoop.fs.Path(s"$out/$f")
      p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)
    }
    if (!done()) buildAtomically(s, out, () => done())(build)
    out
  }

  /** Cache key for a derived layout: the SOURCE PATH plus the source
    * file's size and mtime — regenerated testdata at the same path gets
    * a fresh key, so a stale /tmp layout from a previous corpus can
    * never serve (it would silently diverge from the oracle, which
    * always reads the live file). Full md5 of the signature, not a
    * 32-bit hash: at 2³² a birthday collision between two corpora is a
    * real hazard for a shared tmpdir, and a collision here silently
    * serves the WRONG index.
    */
  private[graft] def sourceKey(paths: Seq[String]): String = {
    val sig = paths.map { p =>
      val f = java.nio.file.Paths.get(p)
      val (sz, mt) =
        if (java.nio.file.Files.exists(f))
          (java.nio.file.Files.size(f), java.nio.file.Files.getLastModifiedTime(f).toMillis)
        else (0L, 0L)
      s"$p:$sz:$mt"
    }.mkString("|")
    java.security.MessageDigest.getInstance("MD5")
      .digest(sig.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Multi-file layout builds are NOT atomic by default: a concurrent
    * builder of the same key (or a crash between part writes) could
    * leave a partially-overwritten layout whose parts disagree. This
    * helper gives the standard fix — build every part under a private
    * temp dir, then RENAME the whole dir into place (one FS metadata op
    * on a local/HDFS filesystem); a racer that finds the target already
    * renamed discards its own build. Readers therefore only ever see a
    * complete layout or none.
    *
    * `complete` is the caller's layout-completeness predicate (defaults
    * to a top-level `_SUCCESS` probe; multi-part layouts pass their own
    * all-parts check). A pre-existing target is deleted ONLY while it
    * is known-incomplete (a crashed earlier build) — a PUBLISHED layout
    * is never deleted, so a concurrent reader of the live path cannot
    * hit missing files mid-swap.
    *
    * Race handling is Hadoop-rename-aware: `fs.rename(tmp, out)` onto
    * an EXISTING directory does not refuse — HDFS (and the local FS's
    * copy fallback) moves tmp INTO the target as a child and returns
    * true, which would silently nest a loser's full duplicate build
    * inside the published layout (duplicate rows on recursive
    * listings). So a racer (1) re-checks completeness immediately
    * before renaming and discards its tmp if a winner is already in
    * place, and (2) after a "successful" rename verifies that
    * `out/<tmp-basename>` does NOT exist — if it does, the rename was
    * actually a nest-into-winner, so the nested copy is deleted and
    * the race treated as lost. A rename failure with a complete winner
    * in place is likewise a lost race (discard tmp); a rename failure
    * with NO winner throws instead of silently returning a path that
    * doesn't exist.
    */
  private[graft] def buildAtomically(s: SparkSession, out: String,
      complete: () => Boolean = null)(
      build: String => Unit): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    val outPath = new org.apache.hadoop.fs.Path(out)
    val fs = outPath.getFileSystem(conf)
    val isComplete: () => Boolean =
      if (complete != null) complete else () => successExists(s, out)
    val tmp = new org.apache.hadoop.fs.Path(
      out + ".build-" + java.util.UUID.randomUUID().toString)
    build(tmp.toString)
    if (fs.exists(outPath) && !isComplete()) fs.delete(outPath, true)
    // lost-race fast path: a complete winner published while we built
    if (isComplete()) { fs.delete(tmp, true); return }
    if (!fs.rename(tmp, outPath)) {
      fs.delete(tmp, true)
      if (!isComplete())
        throw new java.io.IOException(
          s"atomic publish of $out failed: rename refused and no complete layout occupies the target")
    } else {
      // rename returned true — but if a winner appeared between the
      // completeness check and the rename, Hadoop moved tmp INTO it as
      // a child rather than refusing. Detect and discard the nested
      // duplicate; the winner's layout stays published.
      val nested = new org.apache.hadoop.fs.Path(outPath, tmp.getName)
      if (fs.exists(nested)) fs.delete(nested, true)
      if (!isComplete())
        throw new java.io.IOException(
          s"atomic publish of $out failed: rename landed but the layout is incomplete")
    }
  }

  /** Cached-layout guard through the HADOOP FileSystem, not java.io —
    * on any non-local deployment (the object-store layouts these
    * queries model) a `java.io.File` check always misses, silently
    * rewriting the layout on every invocation. Same FS resolution as
    * the writes/listings it guards.
    */
  private[graft] def successExists(s: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir, "_SUCCESS")
    p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)
  }
}
