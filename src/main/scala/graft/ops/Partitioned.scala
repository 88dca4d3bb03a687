package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Partition pruning, exercised end-to-end (SURVEY §4 claims it among
  * the Catalyst rewrites the engine relies on; this makes it a tested
  * plan property instead of a claim).
  *
  * A 100 TB events store lives or dies on its partition layout, and the
  * natural key is the event date — the same freshness column the
  * reference derives as `auto_date` (reference `main.py:218-222`).
  * [[eventsByDay]] materializes a date-partitioned copy of the events
  * table (one `day=YYYY-MM-DD` directory per UTC day, the standard lake
  * layout); [[qPartitionPrune]] filters one literal day and must touch
  * exactly one partition — QueriesPlanSpec pins `PartitionFilters` on
  * the scan and the driver's DuckDB oracle checks the rows against the
  * unpartitioned table.
  */
object Partitioned {

  /** The source every events-derived layout here is keyed on. */
  private def eventsSrc(d: String): Seq[String] = Seq(s"$d/events.parquet")

  /** Date-partitioned copy of events, written once per sf dir (reused on
    * later calls — Bench invokes each query three times). The write is a
    * one-shot setup cost, exactly like the ingest job that would
    * maintain this layout in production; the read back is a partitioned
    * scan whose `day` column comes from directory names, not file data.
    */
  def eventsByDay(s: SparkSession, d: String): DataFrame =
    s.read.parquet(Staged.layout(s, "events_by_day", eventsSrc(d)) { tmp =>
      Tables.events(s, d)
        .withColumn("day", to_date(col("ts")))
        .write.partitionBy("day").parquet(tmp)
    })

  /** One-day slice of the partitioned layout: the scan must prune to the
    * single `day=2024-01-15` directory (29 of 30 partitions never
    * touched — the property that turns a 100 TB scan into a 3 TB one).
    */
  val qPartitionPrune = Q(
    "q_partition_prune",
    (s, d) =>
      eventsByDay(s, d)
        .where(col("day") === lit(java.sql.Date.valueOf("2024-01-15")))
        .select("event_id", "user_id", "event_type", "value", "ts")
        .orderBy("event_id"),
    // CAST(ts AS TIMESTAMP): micros, same floor as the engine's
    // nanos→micros conversion (Tables.events)
    Some("""SELECT event_id, user_id, event_type, value, CAST(ts AS TIMESTAMP) AS ts
            FROM events
            WHERE CAST(ts AS DATE) = DATE '2024-01-15'
            ORDER BY event_id""")
  )

  /** BUCKETED copies of lineitem/orders on the join key — the second
    * storage-layout lever (alongside day-partitioning): two tables
    * bucketed+sorted on the same key join with ZERO exchanges, deleting
    * the dominant cost of every fact-fact join a 100 TB pipeline
    * repeats. One [[Staged]] layout holds a directory per table; Spark
    * reads bucketing from the catalog, not the files, so each session
    * registers each directory as a table named after its location, and
    * returns the two table names.
    */
  private def bucketedTables(s: SparkSession, d: String): (String, String) = {
    val tables = Seq(
      ("lineitem_b", Tables.lineitem(s, d).select("l_orderkey", "l_extendedprice", "l_quantity"), "l_orderkey"),
      ("orders_b", Tables.orders(s, d).select("o_orderkey", "o_orderpriority"), "o_orderkey"))
    def named(dir: String, t: String) =
      s"graft_bkt_${java.util.UUID.nameUUIDFromBytes(dir.getBytes("UTF-8")).toString.replace("-", "")}_$t"
    val out = Staged.layout(s, "bkt", Seq(s"$d/lineitem.parquet", s"$d/orders.parquet")) { tmp =>
      for ((t, df, key) <- tables) {
        df.write.bucketBy(8, key).sortBy(key).option("path", s"$tmp/$t").saveAsTable(named(tmp, t))
        s.sql(s"DROP TABLE ${named(tmp, t)}") // an external table: the files stay
      }
    }
    val Seq(l, o) = tables.map { case (t, df, key) =>
      s.sql(s"CREATE TABLE IF NOT EXISTS ${named(out, t)} (${df.schema.toDDL}) USING parquet " +
        s"CLUSTERED BY ($key) SORTED BY ($key) INTO 8 BUCKETS LOCATION '$out/$t'")
      named(out, t)
    }
    (l, o)
  }

  /** Fact-fact join over the bucketed layout: per-priority revenue of
    * heavy lineitems. The join itself is exchange-free (bucket-local
    * sort-merge — QueriesPlanSpec pins it); the only shuffles in the
    * plan belong to the final aggregation and sort. Oracled against the
    * same join over the raw unbucketed tables.
    */
  val qJoinBucketed = Q(
    "q_join_bucketed",
    (s, d) => {
      val (lineitemB, ordersB) = bucketedTables(s, d)
      s.table(lineitemB)
        .hint("merge") // shuffle-sensitive strategy: no broadcast
        .join(s.table(ordersB), col("l_orderkey") === col("o_orderkey"))
        .where(col("l_quantity") > 30)
        .groupBy("o_orderpriority")
        .agg(
          count(lit(1)).as("n_items"),
          sum(col("l_extendedprice").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("double").as("revenue")
        )
        .orderBy("o_orderpriority")
    },
    Some("""SELECT o_orderpriority, count(*) AS n_items,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_quantity > 30
            GROUP BY o_orderpriority ORDER BY o_orderpriority""")
  )

  /** Small-file input layout for [[qCompact]] (content-keyed, written
    * once per sf dir): lineitem deliberately shattered into 64 tiny
    * files — the debris a micro-batching ingest leaves behind, and the
    * thing that kills scan throughput at 100 TB (every file is a task +
    * a footer read + an object-store GET).
    */
  private[ops] def smallFiles(s: SparkSession, d: String): String =
    Staged.layout(s, "lineitem_small", Seq(s"$d/lineitem.parquet")) { tmp =>
      Tables.lineitem(s, d).repartition(64).write.parquet(tmp)
    }

  /** Output location for the compacted copy (overwritten every run —
    * the compaction IS the operator under test, unlike the cached input
    * layout above). */
  private[ops] def compactedDir(d: String): String =
    Staged.path("lineitem_compacted", Seq(s"$d/lineitem.parquet"))

  /** E15 — small-file COMPACTION, the table-maintenance operator every
    * lake runs nightly: rewrite a shattered layout (64 tiny files) into
    * few size-targeted, range-clustered files. Output file count =
    * ⌈input_bytes / targetBytes⌉ (data-derived, never a constant, so
    * the same code sizes a 100 TB table to ~400k files);
    * `repartitionByRange(l_orderkey)` + `sortWithinPartitions` gives
    * each output file a disjoint, sorted key range — so downstream
    * scans get both fewer tasks AND min/max-pruned row groups (the
    * q_zorder_key idea, applied at the file level). Returns the
    * compacted copy read back.
    */
  private[ops] def compact(s: SparkSession, d: String, targetBytes: Long): DataFrame = {
    val small = smallFiles(s, d)
    // Hadoop FS, not java.io: on a cluster this path is object storage
    val smallPath = new org.apache.hadoop.fs.Path(small)
    val fs = smallPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    val inputBytes = fs.listStatus(smallPath)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(_.getLen).sum
    val nFiles = math.max(1L, (inputBytes + targetBytes - 1) / targetBytes).toInt
    val out = compactedDir(d)
    s.read.parquet(small)
      .repartitionByRange(nFiles, col("l_orderkey"))
      .sortWithinPartitions("l_orderkey", "l_linenumber")
      .write.mode("overwrite").parquet(out)
    s.read.parquet(out)
  }

  /** The declared compaction at a 4 MiB target, so the test corpora
    * produce a multi-file range layout (a production lake targets
    * ~256 MiB). The oracle reads the compacted copy back and
    * hash-compares against the original table: compaction must be
    * byte-lossless. PartitionedSpec asserts the file-count collapse
    * and the per-file disjoint key ranges.
    */
  val qCompact = Q(
    "q_compact",
    (s, d) =>
      compact(s, d, 4L << 20)
        .where(col("l_returnflag") === "R")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        // TRUE total order: (orderkey, linenumber) is not unique in the
        // synthetic lineitem (the q_filter lesson) — sort every column
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"),
    Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
            FROM lineitem WHERE l_returnflag = 'R'
            ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice""")
  )

  // -------------------------------------------------------------- E15.4
  // Manifest-based FILE SKIPPING — the data-skipping layer a lake format
  // (Delta/Iceberg/Hudi) puts between the catalog and the scan: a
  // per-file stats manifest consulted at plan time so a selective
  // predicate reads only the files whose [min,max] intersect it.
  // Directory partitioning (qPartitionPrune) prunes on ONE coarse
  // column; the manifest prunes on any clustered column at FILE
  // granularity without moving data into directories.

  private[ops] def manifestDir(layout: String): String = s"$layout/_graft_manifest"

  /** ts-range-clustered events copy (16 files, disjoint ts ranges) plus
    * its stats manifest: one row per data file with min/max ts, row
    * count, and null count. The manifest is built from the written
    * files themselves (group by `input_file_name`, recorded as the file
    * name relative to the layout root), so it can never disagree with
    * the data; it is file-count-sized — at 100 TB that is ~400k rows of
    * metadata, which is exactly what Delta checkpoints / Iceberg
    * manifest files hold. Staged once per sf dir.
    */
  def eventsClustered(s: SparkSession, d: String): String =
    Staged.layout(s, "events_clustered", eventsSrc(d)) { tmp =>
      Tables.events(s, d)
        .repartitionByRange(16, col("ts"))
        .sortWithinPartitions("ts")
        .write.parquet(tmp)
      s.read.parquet(tmp)
        .groupBy(substring_index(input_file_name(), "/", -1).as("file"))
        .agg(
          min(col("ts")).as("ts_min"),
          max(col("ts")).as("ts_max"),
          count(lit(1)).as("n_rows"),
          count(when(col("ts").isNull, 1)).as("n_null_ts"))
        .coalesce(1)
        .write.parquet(manifestDir(tmp))
    }

  /** Plan-time file pruning: keep a data file iff its [ts_min, ts_max]
    * intersects [lo, hi) — or it holds null ts rows and the predicate
    * is not null-rejecting (ours is, so all-null files drop too). The
    * manifest collect is DRIVER-side by design: it is metadata planning
    * over file-count rows, the same driver-side step Delta/Iceberg run;
    * the DATA never moves. Returns the pruned scan plus (selected,
    * total) file counts for the skipping assertions.
    */
  def manifestSkipScan(
      s: SparkSession,
      layout: String,
      lo: java.sql.Timestamp,
      hi: java.sql.Timestamp
  ): (DataFrame, Int, Int) = {
    // stats may collect as Timestamp (LTZ) or LocalDateTime (NTZ layout
    // written before ts normalization) — compare in epoch micros
    def micros(a: Any): Long = a match {
      case t: java.sql.Timestamp => t.getTime * 1000L + t.getNanos / 1000L % 1000L
      case l: java.time.LocalDateTime => l.toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L
      case i: java.time.Instant => i.toEpochMilli * 1000L
      case other => throw new IllegalArgumentException(s"unexpected ts stat: $other")
    }
    val (loU, hiU) = (micros(lo), micros(hi))
    val manifest = s.read.parquet(manifestDir(layout)).collect()
    val selected = manifest.iterator.filter { r =>
      val mn = r.getAs[Any]("ts_min")
      val mx = r.getAs[Any]("ts_max")
      mn != null && mx != null && micros(mx) >= loU && micros(mn) < hiU
    }.map(r => s"$layout/${r.getAs[String]("file")}").toSeq
    val base = Tables.normalizeTs(
      if (selected.isEmpty)
        s.read.parquet(layout).limit(0) // schema-preserving empty relation
      else s.read.parquet(selected: _*))
    // residual predicate stays on the pruned scan: skipping is an
    // optimization, never a correctness dependency
    (base.where(col("ts") >= lit(lo) && col("ts") < lit(hi)),
      selected.length, manifest.length)
  }

  /** Two-day slice through the manifest-pruned scan — same rows as the
    * full-table filter (the oracle), reading ~2/30ths of the files.
    * PartitionedSpec asserts the skip ratio and skipping SOUNDNESS (the
    * complement files hold zero qualifying rows).
    */
  val qManifestSkip = Q(
    "q_manifest_skip",
    (s, d) => {
      val layout = eventsClustered(s, d)
      val (scan, _, _) = manifestSkipScan(s, layout,
        java.sql.Timestamp.valueOf("2024-01-10 00:00:00"),
        java.sql.Timestamp.valueOf("2024-01-12 00:00:00"))
      scan.select("event_id", "user_id", "event_type", "value", "ts")
        .orderBy("event_id")
    },
    Some("""SELECT event_id, user_id, event_type, value, CAST(ts AS TIMESTAMP) AS ts
            FROM events
            WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-10 00:00:00'
              AND CAST(ts AS TIMESTAMP) <  TIMESTAMP '2024-01-12 00:00:00'
            ORDER BY event_id""")
  )

  // ---------------------------------------------------------------------
  // Bloom-filter FILE SKIPPING — the point-lookup complement to the
  // min/max manifest: a hashed/bucketed layout spreads every key range
  // across every file, so [min,max] stats prune NOTHING for
  // `user_id = X`, while a per-file Bloom filter answers "definitely
  // not in this file" probabilistically with no false negatives
  // (Parquet bloom columns, Delta/Iceberg bloom file skipping). The
  // fixture is the honest production case: BUCKET EVOLUTION. Batch 1
  // was ingested bucketed 8 ways by user_id; the table grew and batch 2
  // re-bucketed 16 ways. The hash-function shortcut (file =
  // hash(user) % n) now needs per-epoch bookkeeping a reader doesn't
  // have, while per-file Blooms keep answering uniformly — and keep
  // working for layouts with no bucket discipline at all.
  // ---------------------------------------------------------------------

  private val BloomK = 6 // double-hashed probes per key
  private val BloomSeed1 = 0x9e3779b9L
  private val BloomSeed2 = 0x85ebca6bL

  /** The k bit positions of `key` in an m-bit Bloom filter — Kirsch &
    * Mitzenmacher double hashing over Spark's codegen `xxhash64`, as a
    * COLUMN so build (executor, millions of rows) and probe (driver,
    * one row) evaluate the identical expression.
    */
  private def bloomPositions(key: Column, m: Long): Seq[Column] = {
    // each hash reduced mod m BEFORE combining: the raw h1 + i*h2 form
    // overflows Long under ANSI arithmetic; mod-first is the same
    // residue class and keeps every intermediate under 6m
    val h1 = pmod(xxhash64(key, lit(BloomSeed1)), lit(m))
    val h2 = pmod(xxhash64(key, lit(BloomSeed2)), lit(m))
    (0 until BloomK).map(i => pmod(h1 + lit(i.toLong) * h2, lit(m)))
  }

  /** Two-epoch bucketed layout (8-way then 16-way by user_id over the
    * event_id halves) plus its Bloom manifest: one row per (file, word)
    * with the OR of the 64-bit word's set bits, the file named relative
    * to the layout root (`epoch=N/part-…`) — built as one
    * explode + groupBy over the written files themselves (never
    * disagreeing with the data), file-count × m/64 rows of metadata.
    * One GLOBAL m, sized to the largest file (next power of two of
    * 8 bits/row, fpp ≈ 2% at k = 6), so probe word indexes are the
    * same for every file and the probe reads k pushdown-filtered
    * manifest rows per file instead of the whole manifest.
    */
  private[ops] def eventsBloomLayout(s: SparkSession, d: String): String =
    Staged.layout(s, "events_bloom", eventsSrc(d)) { tmp =>
      val ev = Tables.events(s, d)
      val mid = ev.agg(max(col("event_id"))).head().getLong(0) / 2
      ev.where(col("event_id") <= mid).repartition(8, col("user_id"))
        .write.parquet(s"$tmp/epoch=1")
      ev.where(col("event_id") > mid).repartition(16, col("user_id"))
        .write.parquet(s"$tmp/epoch=2")
      val data = s.read.parquet(tmp)
      val maxRows = data.groupBy(input_file_name()).count()
        .agg(max(col("count"))).head().getLong(0)
      val m = java.lang.Long.highestOneBit(math.max(64L, 8L * maxRows) * 2 - 1)
      data
        .select(substring_index(input_file_name(), "/", -2).as("file"),
          explode(array(bloomPositions(col("user_id"), m): _*)).as("pos"))
        .groupBy(col("file"), (col("pos") / 64).cast("long").as("word"))
        .agg(bit_or(expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))")).as("bits"))
        .withColumn("bloom_m", lit(m))
        .coalesce(1)
        .write.parquet(manifestDir(tmp))
    }

  /** Plan-time Bloom pruning for `user_id = user`: evaluate the SAME
    * position expression the build used (driver-side, one-row plan),
    * fetch only the probed words from the manifest (k × files rows
    * through parquet pushdown on `word`), and keep a file iff ALL k
    * bits are set — a missing word row is an all-zero word, i.e. a
    * definite miss. No false negatives by construction; the residual
    * predicate stays on the pruned scan, so a false positive costs one
    * extra file read, never a wrong row. Returns (pruned scan,
    * selected, total) like [[manifestSkipScan]].
    */
  private[ops] def bloomSkipScan(s: SparkSession, layout: String, user: Long)
      : (DataFrame, Int, Int) = {
    val manifest = manifestDir(layout)
    val m = s.read.parquet(manifest).select("bloom_m").head().getLong(0)
    val posRow = s.range(1)
      .select(bloomPositions(lit(user), m).zipWithIndex
        .map { case (c, i) => c.as(s"p$i") }: _*).head()
    val positions = (0 until BloomK).map(posRow.getLong).distinct
    val words = positions.map(_ / 64).distinct
    val probed = s.read.parquet(manifest)
      .where(col("word").isin(words: _*))
      .collect()
      .groupBy(_.getAs[String]("file"))
      .view.mapValues(_.map(r => r.getAs[Long]("word") -> r.getAs[Long]("bits")).toMap)
    // the file universe comes from the manifest (its keys are the
    // root-relative file names the build recorded — the readable truth),
    // one pushdown-pruned column read, file-count-sized after distinct
    val total = s.read.parquet(manifest).select("file").distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    val selected = total.filter { f =>
      probed.get(f).exists(ws =>
        positions.forall(p => (ws.getOrElse(p / 64, 0L) & (1L << (p % 64).toInt)) != 0L))
    }
    val base =
      if (selected.isEmpty) s.read.parquet(layout).limit(0)
      else s.read.parquet(selected.map(f => s"$layout/$f"): _*)
    (Tables.normalizeTs(base).where(col("user_id") === lit(user)),
      selected.size, total.size)
  }

  /** Point lookup through Bloom skipping — same rows as the full-table
    * filter (the oracle), reading ~2 of the 24 files (one bucket per
    * epoch, plus rare false positives). PartitionedSpec asserts the
    * skip ratio, the no-false-negative law over every user, and the
    * false-positive rate on absent keys.
    */
  val qBloomSkip = Q(
    "q_bloom_skip",
    (s, d) => {
      val layout = eventsBloomLayout(s, d)
      val (scan, _, _) = bloomSkipScan(s, layout, 7L)
      scan.select("event_id", "user_id", "event_type", "value", "ts")
        .orderBy("event_id")
    },
    Some("""SELECT event_id, user_id, event_type, value, CAST(ts AS TIMESTAMP) AS ts
            FROM events
            WHERE user_id = 7
            ORDER BY event_id""")
  )

  // ---------------------------------------------------------------------
  // table versions (time travel, vacuum): every version of a table is a
  // commit in its `_graft_log` (the CONCURRENT-WRITER section below),
  // Delta's ordered add/remove log — one version format for the family
  // ---------------------------------------------------------------------

  /** The parquet files directly under `root/sub`, sorted, as
    * `sub/<name>` paths relative to `root` — the form every manifest
    * and log body here records (Delta's convention), because a staged
    * layout is built under a directory that is renamed when it publishes.
    */
  private def listParquet(s: SparkSession, root: String, sub: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(s"$root/$sub")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .map(_.getPath.getName)
      .filter(_.endsWith(".parquet"))
      .map(n => s"$sub/$n")
      .sorted
  }

  /** Per-type row count and exact value total, ordered by type — the
    * aggregate the version reads below are hash-checked through.
    */
  private def typeTotals(df: DataFrame): DataFrame =
    df.groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(28, 2)))
          .cast("double").as("total_value"))
      .orderBy("event_type")

  /** Two-commit VERSIONED layout — the MVCC idiom under every lake
    * format's time travel: data files only ever ACCUMULATE in `data/`;
    * a commit in the layout's log is what makes a file visible, and a
    * version file publishes atomically after its data, so a reader
    * either sees a fully committed version or none of it.
    *
    * Version 1 = the initial load (event_id % 10 < 8, range-clustered);
    * version 2 = an appended batch (the rest). The append never
    * rewrites v1 files — the write cost of a commit is the BATCH, never
    * the table, and every earlier version stays byte-identical on disk.
    */
  private[ops] def eventsVersioned(s: SparkSession, d: String): String =
    Staged.layout(s, "events_versioned_log", eventsSrc(d))(
      buildVersioned(s, d, _, withCompaction = false))

  /** Write the versioned layout under `root`, committing v1 (the load)
    * and v2 (the append) to its log. With `withCompaction`, v3 is a
    * COMPACTION rewrite: the head rewritten into 2 range-clustered
    * files, retiring every v1/v2 file from the head without touching
    * their bytes.
    */
  private[ops] def buildVersioned(
      s: SparkSession, d: String, root: String, withCompaction: Boolean): Unit = {
    val log = commitLogDir(root)
    val data = s"$root/data"
    val ev = Tables.events(s, d)
    ev.where(col("event_id") % 10 < 8)
      .repartitionByRange(8, col("event_id"))
      .write.mode("overwrite").parquet(data)
    val v1 = listParquet(s, root, "data")
    commitAppend(s, log, v1)
    ev.where(col("event_id") % 10 >= 8)
      .repartition(2) // batch-sized shuffle: the append costs the batch
      .write.mode("append").parquet(data)
    commitAppend(s, log, listParquet(s, root, "data").filterNot(v1.toSet))
    if (withCompaction) {
      val v2 = manifestFiles(s, log, 2)
      snapshotRead(s, root, 2)
        .repartitionByRange(2, col("event_id"))
        .sortWithinPartitions("event_id")
        .write.mode("append").parquet(data)
      commitRewrite(s, log, retired = v2,
        produced = listParquet(s, root, "data").filterNot(v2.toSet))
    }
  }

  /** Snapshot read AS OF `version`: the visible file set is replayed
    * from the commit log ([[manifestFiles]], file-count-sized metadata
    * like [[manifestSkipScan]]'s, read without a Spark job), then one scan
    * of exactly those files; the data never moves. A version, once
    * committed, is immutable — the property that makes a training run
    * reproducible down to the file list months after later appends.
    */
  def snapshotRead(s: SparkSession, root: String, version: Int): DataFrame = {
    val files = manifestFiles(s, commitLogDir(root), version)
    require(files.nonEmpty, s"no files visible at version $version")
    Tables.normalizeTs(s.read.parquet(files.map(f => s"$root/$f"): _*))
  }

  /** VACUUM: physically delete every data file not visible at any
    * version ≥ `horizon` — the retention-driven reclamation every lake
    * format pairs with time travel. Purely a metadata diff (the files
    * the log shows at horizon..head vs the directory listing) followed
    * by FS deletes: no data moves, nothing is committed, and versions
    * ≥ horizon remain byte-identically readable. Time travel BELOW the
    * horizon is intentionally destroyed — that is the storage the
    * operation reclaims. Returns (files before, files after).
    */
  def vacuum(s: SparkSession, root: String, horizon: Int): (Int, Int) = {
    val log = commitLogDir(root)
    val keep = (horizon to headVersion(s, log)).flatMap(manifestFiles(s, log, _)).toSet
    require(keep.nonEmpty, s"vacuum horizon $horizon would empty the table")
    val all = listParquet(s, root, "data")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    all.filterNot(keep).foreach(f =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$root/$f"), false))
    (all.size, listParquet(s, root, "data").size)
  }

  /** Per-type stats of the VERSION-1 snapshot, read while the v2 append
    * sits in the same directory — the oracle is the batch predicate
    * itself, so a hash match proves snapshot isolation: the appended
    * files are invisible to the pinned version. PartitionedSpec adds
    * the versioning laws (v2 ⊇ v1, v2 = full table, immutability of
    * the v1 read after the append).
    */
  val qTimeTravel = Q(
    "q_time_travel",
    (s, d) => typeTotals(snapshotRead(s, eventsVersioned(s, d), 1)),
    Some("""SELECT event_type, count(*) AS n_events,
                   CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS total_value
            FROM events
            WHERE event_id % 10 < 8
            GROUP BY event_type
            ORDER BY event_type""")
  )

  /** The full lake-maintenance LIFECYCLE on its own layout copy (so
    * [[qTimeTravel]]'s history stays intact): initial load (v1) →
    * append (v2) → compaction commit (v3, head rewritten into 2 files,
    * old files retired from the head but not from disk) → VACUUM at
    * horizon 3, physically reclaiming every file below the horizon.
    * The declared query reads the head AFTER the vacuum; its oracle is
    * the full unversioned table, so the hash match proves compaction +
    * vacuum preserved every visible row while the directory shrank to
    * the 2 compacted files (PartitionedSpec asserts the file-count
    * collapse, sub-horizon read failure, and vacuum idempotence).
    */
  private[ops] def vacuumedLayout(s: SparkSession, d: String): String =
    Staged.layout(s, "events_vacuum_log", eventsSrc(d))(
      buildVersioned(s, d, _, withCompaction = true))

  val qVacuum = Q(
    "q_vacuum",
    (s, d) => {
      val root = vacuumedLayout(s, d)
      vacuum(s, root, horizon = 3)
      typeTotals(snapshotRead(s, root, 3))
    },
    Some("""SELECT event_type, count(*) AS n_events,
                   CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS total_value
            FROM events
            GROUP BY event_type
            ORDER BY event_type""")
  )

  /** SCHEMA EVOLUTION read — the lake reality that a long-lived table's
    * files do not share one schema: the early batch was written before
    * the `value` column existed, the later batch carries it. Spark's
    * `mergeSchema` parquet read unions the footer schemas at PLAN time
    * (file-count-sized metadata work, like manifest planning) and
    * null-fills the missing column in old files — no rewrite of
    * history, which at 100 TB is the difference between an ALTER TABLE
    * that costs nothing and one that rewrites the lake.
    *
    * Layout: the two batches split on `event_id % 10 < 8` (the same
    * data-derived split the versioned layouts use), old files written
    * WITHOUT `value`. The declared query aggregates per event_type over
    * the merged read — n_with_value counts exactly the new-batch rows,
    * so the oracle (the split predicate inlined over the live table)
    * hash-verifies both the union schema and the null-filling.
    */
  private[ops] def eventsEvolved(s: SparkSession, d: String): DataFrame = {
    val out = Staged.layout(s, "events_evolved", eventsSrc(d)) { tmp =>
      val ev = Tables.events(s, d)
      // old batch: written before `value` existed
      ev.where(col("event_id") % 10 < 8)
        .select("event_id", "user_id", "event_type", "ts")
        .write.parquet(tmp)
      // new batch: schema grew; append files carry the extra column
      ev.where(col("event_id") % 10 >= 8)
        .select("event_id", "user_id", "event_type", "ts", "value")
        .write.mode("append").parquet(tmp)
    }
    Tables.normalizeTs(s.read.option("mergeSchema", "true").parquet(out))
  }

  val qSchemaEvolution = Q(
    "q_schema_evolution",
    (s, d) =>
      eventsEvolved(s, d)
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n_events"),
          count(col("value")).as("n_with_value"),
          sum(col("value").cast(org.apache.spark.sql.types.DecimalType(28, 2)))
            .cast("double").as("total_value"))
        .orderBy("event_type"),
    Some("""SELECT event_type, count(*) AS n_events,
                   count(CASE WHEN event_id % 10 >= 8 THEN value END) AS n_with_value,
                   CAST(sum(CASE WHEN event_id % 10 >= 8
                                 THEN CAST(value AS DECIMAL(28,2)) END) AS DOUBLE) AS total_value
            FROM events
            GROUP BY event_type
            ORDER BY event_type""")
  )

  /** MERGE INTO (upsert) — the lake-lifecycle write path the family was
    * still missing: apply a CDC batch to a SNAPSHOT and emit the merged
    * table, the core of every Delta/Iceberg/Hudi `MERGE` statement.
    * The merge key is (user_id, event_type) — per-user-per-stream state.
    * Snapshot = latest state per key in the FIRST week; batch = latest
    * per key in the LAST week, so the fixture genuinely exercises every
    * branch (sf0.01: 612 updated / 69 deleted / 34 inserted / 32 kept).
    * Delete tombstones ride the fixture's out-of-band marker
    * (batch event_id % 10 = 0 — integer-exact): matched+delete drops
    * the row, unmatched delete no-ops. `action` is the MERGE audit
    * column every lake engine emits as operation metrics.
    *
    * Shape: two window collapses + ONE full-outer SMJ, all keyed on the
    * merge key — Catalyst reuses the windows' hash partitioning for the
    * join, so the merge is 2 data-scale exchanges + the output sort
    * (plan-pinned; nothing broadcasts — in a real MERGE both sides are
    * table-scale). At 100 TB this is exactly the shuffle plan a Delta
    * MERGE executes (minus its file-rewrite commit, which
    * q_compact/q_time_travel already cover on the layout side).
    */
  val qMergeUpsert = Q(
    "q_merge_upsert",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts").desc, col("event_id").desc)
      def latest(df: DataFrame) =
        df.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      val snap = latest(Tables.events(s, d)
        .where(col("ts") < lit("2024-01-08 00:00:00").cast("timestamp")))
        .select(col("user_id"), col("event_type"), col("value").as("old_value"))
      val batch = latest(Tables.events(s, d)
        .where(col("ts") >= lit("2024-01-24 00:00:00").cast("timestamp")))
        .select(col("user_id").as("b_user"), col("event_type").as("b_type"),
          col("event_id").as("b_eid"), col("value").as("new_value"))
      snap
        .join(batch,
          col("user_id") === col("b_user") && col("event_type") === col("b_type"),
          "full_outer")
        // matched+delete drops; unmatched delete no-ops — both reduce to
        // "no tombstone rows survive"
        .where(col("b_eid").isNull || pmod(col("b_eid"), lit(10)) =!= 0)
        .select(
          coalesce(col("user_id"), col("b_user")).as("user_id"),
          coalesce(col("event_type"), col("b_type")).as("event_type"),
          coalesce(col("new_value"), col("old_value")).as("value"),
          when(col("b_eid").isNull, "kept")
            .when(col("user_id").isNull, "inserted")
            .otherwise("updated").as("action"))
        .orderBy("user_id", "event_type")
    },
    Some("""WITH snap AS (
              SELECT user_id, event_type, value AS old_value FROM (
                SELECT user_id, event_type, value,
                       row_number() OVER (PARTITION BY user_id, event_type
                                          ORDER BY ts DESC, event_id DESC) AS rn
                FROM events WHERE ts < TIMESTAMP '2024-01-08 00:00:00') t
              WHERE rn = 1),
            batch AS (
              SELECT user_id AS b_user, event_type AS b_type,
                     event_id AS b_eid, value AS new_value FROM (
                SELECT user_id, event_type, event_id, value,
                       row_number() OVER (PARTITION BY user_id, event_type
                                          ORDER BY ts DESC, event_id DESC) AS rn
                FROM events WHERE ts >= TIMESTAMP '2024-01-24 00:00:00') t
              WHERE rn = 1)
            SELECT coalesce(user_id, b_user) AS user_id,
                   coalesce(event_type, b_type) AS event_type,
                   coalesce(new_value, old_value) AS value,
                   CASE WHEN b_eid IS NULL THEN 'kept'
                        WHEN user_id IS NULL THEN 'inserted'
                        ELSE 'updated' END AS action
            FROM snap FULL OUTER JOIN batch
              ON user_id = b_user AND event_type = b_type
            WHERE b_eid IS NULL OR b_eid % 10 <> 0
            ORDER BY user_id, event_type""")
  )

  /** CHANGE DATA FEED — the version-diff read every lake format offers
    * (Delta CDF / Iceberg changelog): classify how each (user_id,
    * event_type) key's latest-wins state changed between two snapshot
    * times (the q_merge_upsert cutoffs): `added` (absent at T1),
    * `removed` (tombstoned since — the fixture's event_id%10 marker),
    * `changed` (value differs), `unchanged` — a ONE-DAY feed window so
    * all four classes are live on the fixture (sf0.01:
    * 430/218/24/24 unchanged/changed/added/removed). Downstream incremental
    * consumers (index maintenance, cache invalidation, GDPR audits)
    * read exactly this relation instead of diffing full snapshots.
    *
    * Shape: two latest-wins window collapses sharing one hash
    * partitioning + one full-outer SMJ on the key — the same 2-exchange
    * plan as q_merge_upsert; the diff itself is a per-row CASE. At
    * 100 TB the state collapses are |keys|-bounded after their windows,
    * and nothing broadcasts.
    */
  val qChangeFeed = Q(
    "q_change_feed",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts").desc, col("event_id").desc)
      // a key is VISIBLE in a snapshot iff its latest event is not a
      // tombstone (the merge's delete rule) — the same rule at BOTH
      // times, so removed/added are symmetric
      def stateAt(upper: String) =
        Tables.events(s, d)
          .where(col("ts") < lit(upper).cast("timestamp"))
          .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
          .where(pmod(col("event_id"), lit(10)) =!= 0)
      val old = stateAt("2024-01-16 00:00:00")
        .select(col("user_id"), col("event_type"), col("value").as("old_value"))
      val neu = stateAt("2024-01-17 00:00:00")
        .select(col("user_id").as("n_user"), col("event_type").as("n_type"),
          col("value").as("new_value"))
      old
        .join(neu,
          col("user_id") === col("n_user") && col("event_type") === col("n_type"),
          "full_outer")
        .select(
          coalesce(col("user_id"), col("n_user")).as("user_id"),
          coalesce(col("event_type"), col("n_type")).as("event_type"),
          col("old_value"), col("new_value"),
          when(col("old_value").isNull, "added")
            .when(col("new_value").isNull, "removed")
            .when(col("old_value") =!= col("new_value"), "changed")
            .otherwise("unchanged").as("change"))
        .orderBy("user_id", "event_type")
    },
    Some("""WITH old AS (
              SELECT user_id, event_type, value AS old_value FROM (
                SELECT user_id, event_type, event_id, value,
                       row_number() OVER (PARTITION BY user_id, event_type
                                          ORDER BY ts DESC, event_id DESC) AS rn
                FROM events WHERE ts < TIMESTAMP '2024-01-16 00:00:00') t
              WHERE rn = 1 AND event_id % 10 <> 0),
            neu AS (
              SELECT user_id AS n_user, event_type AS n_type, value AS new_value FROM (
                SELECT user_id, event_type, event_id, value,
                       row_number() OVER (PARTITION BY user_id, event_type
                                          ORDER BY ts DESC, event_id DESC) AS rn
                FROM events WHERE ts < TIMESTAMP '2024-01-17 00:00:00') t
              WHERE rn = 1 AND event_id % 10 <> 0)
            SELECT coalesce(user_id, n_user) AS user_id,
                   coalesce(event_type, n_type) AS event_type,
                   old_value, new_value,
                   CASE WHEN old_value IS NULL THEN 'added'
                        WHEN new_value IS NULL THEN 'removed'
                        WHEN old_value <> new_value THEN 'changed'
                        ELSE 'unchanged' END AS change
            FROM old FULL OUTER JOIN neu
              ON user_id = n_user AND event_type = n_type
            ORDER BY user_id, event_type""")
  )

  // ---------------------------------------------------------------------
  // deletion vectors (merge-on-read row-level delete)
  // ---------------------------------------------------------------------

  /** Build the deletion-vector side table for the clustered events
    * layout: the positions — (file, row_index), NO payload columns — of
    * every row hit by the delete predicate (user_id % 10 = 3, the
    * GDPR-style erasure batch). Positions come from the parquet reader's
    * own `_metadata.file_path` / `_metadata.row_index`, so they are the
    * physical row positions an Iceberg v2 position-delete file or a
    * Delta deletion vector stores. The DATA FILES ARE NEVER REWRITTEN
    * (PartitionedSpec asserts byte-identical listings) — that is the
    * merge-on-read trade: delete commits cost O(deleted positions), the
    * debt is paid at read time until the next compaction rewrite
    * ([[qCompact]]) folds the DVs in. The positions name the clustered
    * layout's files by their published paths, so the DV table is staged
    * under the clustered layout's name.
    */
  private[ops] def buildDeletionVectors(s: SparkSession, d: String): (String, String) = {
    val layout = eventsClustered(s, d)
    val dv = Staged.layout(s, "events_clustered_dv", eventsSrc(d)) { tmp =>
      s.read.parquet(layout)
        .select(
          col("_metadata.file_path").as("file"),
          col("_metadata.row_index").as("pos"),
          col("user_id"))
        .where(col("user_id") % 10 === 3)
        .select("file", "pos")
        .coalesce(1)
        .write.parquet(tmp)
    }
    (layout, dv)
  }

  /** Apply the deletion vectors `dv` to `base`: tag each row with its
    * parquet reader position and anti-join the (file, pos) positions.
    */
  private def dropDeleted(base: DataFrame, dv: String): DataFrame =
    base
      .withColumn("file", col("_metadata.file_path"))
      .withColumn("pos", col("_metadata.row_index"))
      .join(broadcast(base.sparkSession.read.parquet(dv)), Seq("file", "pos"), "left_anti")

  /** MERGE-ON-READ DELETE READ (r7) — the scan that applies deletion
    * vectors: base files anti-joined on (file, pos) against the DV
    * table. The reader never sees the delete PREDICATE, only positions
    * — exactly the contract under Iceberg v2 position deletes / Delta
    * DVs — yet the oracle IS the predicate on the live table, so the
    * hash match proves position-level apply ≡ predicate semantics.
    *
    * Scale: the DV side is O(deleted positions) — broadcast here (the
    * per-file-bitmap-beside-the-scan shape the real formats use; a
    * mass-delete whose DV outgrows the broadcast threshold falls back
    * to a (file, pos)-keyed shuffle join, same plan text minus the
    * hint). The base scan stays a plain pruned parquet scan; nothing
    * corpus-sized shuffles, and no data file was touched by the delete.
    */
  val qDeletionVectors = Q(
    "q_deletion_vectors",
    (s, d) => {
      val (layout, dv) = buildDeletionVectors(s, d)
      dropDeleted(Tables.normalizeTs(s.read.parquet(layout)), dv)
        .select("event_id", "user_id", "event_type", "value", "ts")
        .orderBy("event_id")
    },
    Some("""SELECT event_id, user_id, event_type, value, CAST(ts AS TIMESTAMP) AS ts
            FROM events
            WHERE user_id % 10 <> 3
            ORDER BY event_id""")
  )

  /** DV FOLD-IN COMPACTION (r7) — the maintenance op that PAYS the
    * merge-on-read debt [[qDeletionVectors]] takes on: survivors (base
    * anti DV) rewritten into 4 ts-range-clustered files; after the
    * fold the DV set for the new files is EMPTY by construction and
    * readers drop the anti join entirely. This is Iceberg's
    * rewrite-data-files with delete-file compaction / Delta's OPTIMIZE
    * folding DVs. Write-side: repartitionByRange + in-partition sort,
    * so the rewritten files recover the disjoint range clustering the
    * DV holes degraded ([[qCompact]]'s shape). The declared query reads
    * the folded layout with NO DV join and carries q_deletion_vectors'
    * oracle verbatim — the hash match proves the fold preserved every
    * surviving row.
    */
  private[ops] def dvCompactedLayout(s: SparkSession, d: String): String =
    Staged.layout(s, "events_clustered_dvc", eventsSrc(d)) { tmp =>
      val (layout, dv) = buildDeletionVectors(s, d)
      dropDeleted(s.read.parquet(layout), dv)
        .drop("file", "pos")
        .repartitionByRange(4, col("ts"))
        .sortWithinPartitions("ts")
        .write.parquet(tmp)
    }

  val qDvCompact = Q(
    "q_dv_compact",
    (s, d) => {
      val out = dvCompactedLayout(s, d)
      Tables.normalizeTs(s.read.parquet(out))
        .select("event_id", "user_id", "event_type", "value", "ts")
        .orderBy("event_id")
    },
    qDeletionVectors.oracle
  )

  // -------------------------------------------------------------------
  // CONCURRENT-WRITER COMMIT PROTOCOL — the optimistic-concurrency
  // loop under every multi-writer lake format (Delta's
  // put-if-absent of _delta_log/N.json; Iceberg's atomic
  // swap-table-pointer), and the one version log of every versioned
  // layout here (time travel and vacuum commit through it too). A
  // commit is: read the head version, stage your data files anywhere
  // (appends never rewrite — data files are immutable and uniquely
  // named), then PUT-IF-ABSENT the next version's file. The loser of a
  // race gets a CAS failure (the version file already exists), re-reads
  // the new head — which now includes the winner's files — and retries
  // on top of it. History is therefore LINEAR: every version applies
  // exactly one commit's actions to its predecessor, no commit is ever
  // lost or applied twice, writers never coordinate beyond the one
  // atomic primitive.
  // -------------------------------------------------------------------

  /** Atomic PUT-IF-ABSENT of a small metadata file — THE commit
    * primitive. On HDFS `create(path, overwrite = false)` is atomic;
    * on an object store this is the conditional PUT every lake format
    * rides (S3 If-None-Match, GCS x-goog-if-generation-match:0). On
    * LOCAL paths Hadoop's RawLocalFileSystem emulates the create with
    * a non-atomic exists() check, so we publish by HARD LINK instead:
    * write the body to a unique temp, then `link(temp, target)` — one
    * POSIX syscall that both fails-if-exists and exposes only complete
    * content (a reader can never observe a half-written manifest).
    * Returns false on the CAS failure the optimistic loop retries on.
    */
  private[ops] def casCreate(s: SparkSession, target: String, body: Array[Byte]): Boolean = {
    val p = new org.apache.hadoop.fs.Path(target)
    p.toUri.getScheme match {
      case null | "file" =>
        val nio = java.nio.file.Paths.get(p.toUri.getPath)
        java.nio.file.Files.createDirectories(nio.getParent)
        val tmp = java.nio.file.Files.createTempFile(nio.getParent, ".cas-", ".tmp")
        try {
          java.nio.file.Files.write(tmp, body)
          try { java.nio.file.Files.createLink(nio, tmp); true }
          catch { case _: java.nio.file.FileAlreadyExistsException => false }
        } finally java.nio.file.Files.deleteIfExists(tmp)
      case _ =>
        // Distinguish CREATE-REFUSED (a real CAS loss) from a failure
        // AFTER create succeeded (r13 ADVICE): a write/close error
        // leaves the version file existing with partial content, and a
        // partial manifest as the head silently drops every prior file
        // from reads while poisoning this version's CAS forever. So a
        // post-create failure must remove the partial file before
        // surfacing — and if even the delete fails, throw rather than
        // report a clean CAS loss over a corrupt head.
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        val out =
          try fs.create(p, false)
          catch { case _: java.io.IOException => return false } // CAS refused
        try {
          out.write(body)
          out.close()
          true
        } catch {
          case e: java.io.IOException =>
            try out.close() catch { case _: java.io.IOException => () }
            val gone =
              try fs.delete(p, false)
              catch { case _: java.io.IOException => false }
            if (!gone && fs.exists(p))
              throw new java.io.IOException(
                s"commit write to $target failed AND the partial version file could not be removed — " +
                  "manual cleanup required before any further commit at this version", e)
            false
        }
    }
  }

  private def commitLogDir(root: String): String = s"$root/_graft_log"
  private def versionFile(logDir: String, v: Int): String =
    f"$logDir/v$v%05d.txt"

  /** Head version of a commit log (0 = empty table) — one directory
    * listing, file-count-sized driver metadata like every manifest read
    * in this family.
    */
  private[ops] def headVersion(s: SparkSession, logDir: String): Int = {
    val p = new org.apache.hadoop.fs.Path(logDir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".txt") =>
        n.stripPrefix("v").stripSuffix(".txt").toInt }
      .maxOption.getOrElse(0)
  }

  /** Version-file header recording the commit's OPERATION TYPE —
    * `append` (blind add of fresh uniquely-named files) or `rewrite`
    * (compaction/vacuum/DV rewrite: retires existing files). The type
    * is what makes optimistic rebase SOUND to decide (r13 VERDICT):
    * appends commute with everything, rewrites only with commits that
    * leave their inputs alone — Delta's logical conflict matrix.
    */
  private val OpHeader = "#op="

  /** Body-format header of an INCREMENTAL commit, the only body
    * [[tryCommitDelta]] writes. A delta body lists ACTIONS (`+file` /
    * `-file`), so a commit writes O(batch) bytes instead of re-listing
    * the whole table — the difference between an append costing its
    * batch and costing a million-line manifest rewrite at 100 TB
    * (Delta's add/remove action log). A body without it is a legacy
    * full-snapshot body, which earlier builds wrote under the same
    * layout names, so [[manifestFiles]] still reads one as a base.
    */
  private val FmtHeader = "#fmt="
  private val FmtDelta = s"${FmtHeader}delta"

  /** Snapshot cadence: every [[CheckpointInterval]]-th commit also
    * publishes `vNNNNN.ckpt` — the full file list at that version — so
    * snapshot reconstruction replays at most [[CheckpointInterval]]
    * delta bodies no matter how long the history grows, and everything
    * strictly below the checkpoint becomes safe to truncate
    * (Delta's 10-commit parquet checkpoint, in this log's text form).
    */
  private[ops] val CheckpointInterval = 10

  private def checkpointFile(logDir: String, v: Int): String =
    f"$logDir/v$v%05d.ckpt"

  private def readLines(s: SparkSession, path: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val body = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
    val in = fs.open(p)
    try in.readFully(0L, body) finally in.close()
    new String(body, "UTF-8").split("\n").toSeq.filter(_.nonEmpty)
  }

  private[ops] def versionBody(s: SparkSession, logDir: String, v: Int): Seq[String] =
    readLines(s, versionFile(logDir, v))

  /** The file list visible at `v`, reconstructed Delta-style: walk DOWN
    * from `v` collecting delta bodies until a SNAPSHOT BASE — a
    * `vNNNNN.ckpt` checkpoint or a legacy full-snapshot body — then
    * apply the collected add/remove actions upward. Cost is bounded by
    * [[CheckpointInterval]] small reads regardless of history length.
    * A missing version file below a live head fails loudly with the
    * truncation diagnosis (never a silently-shorter table).
    */
  private[ops] def manifestFiles(s: SparkSession, logDir: String, v: Int): Seq[String] = {
    if (v == 0) return Seq.empty
    val fs = new org.apache.hadoop.fs.Path(logDir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val deltas = collection.mutable.ArrayBuffer.empty[Seq[String]]
    var w = v
    var base: Set[String] = null
    while (base == null) {
      if (w == 0) base = Set.empty
      else if (fs.exists(new org.apache.hadoop.fs.Path(checkpointFile(logDir, w))))
        base = readLines(s, checkpointFile(logDir, w)).filterNot(_.startsWith("#")).toSet
      else {
        require(fs.exists(new org.apache.hadoop.fs.Path(versionFile(logDir, w))),
          s"commit log $logDir is truncated below v$v with no checkpoint at or above v$w — " +
            "cannot reconstruct the snapshot")
        val body = versionBody(s, logDir, w)
        if (body.contains(FmtDelta)) {
          deltas += body.filterNot(_.startsWith("#"))
          w -= 1
        } else base = body.filterNot(_.startsWith("#")).toSet // legacy full snapshot
      }
    }
    val files = deltas.reverseIterator.foldLeft(base) { (acc, actions) =>
      val adds = actions.collect { case a if a.startsWith("+") => a.drop(1) }
      val removes = actions.collect { case a if a.startsWith("-") => a.drop(1) }.toSet
      (acc -- removes) ++ adds
    }
    files.toSeq.sorted
  }

  /** The operation type committed at `v` (headerless pre-r14 logs read
    * as `append` — the only op they could record).
    */
  private[ops] def versionOp(s: SparkSession, logDir: String, v: Int): String =
    if (v == 0) "append"
    else versionBody(s, logDir, v)
      .collectFirst { case l if l.startsWith(OpHeader) => l.stripPrefix(OpHeader) }
      .getOrElse("append")

  /** One commit ATTEMPT at exactly version `v`: the body is the op
    * header plus add/remove ACTIONS only — O(batch) bytes ([[FmtDelta]]
    * scaladoc). False = CAS failure (someone else owns `v` now). The
    * actions are sorted for bit-stable bodies, not because order
    * matters to reconstruction.
    */
  private[ops] def tryCommitDelta(s: SparkSession, logDir: String, v: Int,
      op: String, adds: Seq[String], removes: Seq[String]): Boolean =
    casCreate(s, versionFile(logDir, v),
      (Seq(s"$OpHeader$op", FmtDelta) ++
        removes.sorted.map("-" + _) ++ adds.sorted.map("+" + _))
        .mkString("\n").getBytes("UTF-8"))

  /** Publish the checkpoint for `v` when the cadence hits. NOT a CAS:
    * version `v` is already committed and immutable, so the checkpoint
    * content is deterministic — concurrent writers double-writing it
    * produce identical bytes, and readers treat a missing checkpoint
    * as "replay further", never as corruption. Written via the same
    * temp-then-atomic-publish discipline as [[casCreate]] so a reader
    * can never observe a half-written snapshot.
    */
  private def maybeCheckpoint(s: SparkSession, logDir: String, v: Int): Unit =
    if (v % CheckpointInterval == 0) {
      val body = manifestFiles(s, logDir, v).mkString("\n").getBytes("UTF-8")
      val p = new org.apache.hadoop.fs.Path(checkpointFile(logDir, v))
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      val tmp = new org.apache.hadoop.fs.Path(
        p.getParent, s".ckpt-${java.util.UUID.randomUUID()}.tmp")
      val out = fs.create(tmp, true)
      try { out.write(body); out.close() }
      catch { case e: java.io.IOException => fs.delete(tmp, false); throw e }
      if (!fs.rename(tmp, p)) fs.delete(tmp, false) // lost a benign double-write race
    }

  /** Delete every version file strictly below the NEWEST checkpoint —
    * safe because reconstruction at or above the checkpoint never
    * walks past it, and the whole point of checkpointing (bounded log
    * growth; Delta's log cleanup). Reads pinned below the checkpoint
    * fail loudly afterwards ([[manifestFiles]]'s truncation require).
    * Returns the number of files removed.
    */
  private[ops] def truncateLog(s: SparkSession, logDir: String): Int = {
    val dir = new org.apache.hadoop.fs.Path(logDir)
    val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
    val ckpts = fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".ckpt") =>
        n.stripPrefix("v").stripSuffix(".ckpt").toInt }
    ckpts.maxOption.fold(0) { c =>
      val victims = fs.listStatus(dir).toSeq.map(_.getPath.getName)
        .collect { case n if n.startsWith("v") && n.endsWith(".txt") &&
          n.stripPrefix("v").stripSuffix(".txt").toInt < c => n }
      victims.foreach(n => fs.delete(new org.apache.hadoop.fs.Path(dir, n), false))
      victims.size
    }
  }

  /** The optimistic-concurrency APPEND LOOP: re-read head, attempt
    * head+1, retry on CAS failure — no commit is lost and none applies
    * twice. With r14's INCREMENTAL bodies the rebase is implicit: the
    * delta records only `+batch`, so a retry at a new version number
    * composes with whatever won — losing to another append lands both
    * batches, and losing to a REWRITE can never resurrect retired
    * files because the rewrite's removes precede this delta in replay
    * order (Delta: blind INSERTs conflict with nothing). The attempt
    * cap turns livelock into a loud error (Delta's maxCommitAttempts);
    * returns the committed version. Every [[CheckpointInterval]]-th
    * winner also publishes the checkpoint snapshot.
    */
  private[ops] def commitAppend(s: SparkSession, logDir: String,
      batch: Seq[String], maxAttempts: Int = 50): Int = {
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val head = headVersion(s, logDir)
      if (tryCommitDelta(s, logDir, head + 1, "append", batch, Seq.empty)) {
        maybeCheckpoint(s, logDir, head + 1)
        return head + 1
      }
    }
    throw new java.io.IOException(
      s"commit of ${batch.size} files lost $maxAttempts CAS races in $logDir")
  }

  /** The REWRITE commit loop (compaction / vacuum / DV rewrite):
    * retire `retired`, produce `produced`. Rewrites do NOT commute the
    * way appends do (r13 VERDICT): a rewrite that blindly rebased after
    * losing a race could re-add files another rewrite just retired —
    * resurrecting deleted data — or silently drop a concurrent
    * append's rows from its own recompaction. So each attempt performs
    * LOGICAL CONFLICT DETECTION against the live head (Delta's
    * conflict matrix, ConcurrentDeleteDeleteException branch): every
    * retired input must still be present in the head manifest. If an
    * interleaving commit was a pure append, the inputs survive and the
    * rebase is `head − retired ∪ produced` — the append's batch rides
    * through untouched. If any input is gone, a concurrent rewrite
    * owned it: abort loudly (the caller re-plans its rewrite from the
    * new head; its staged output references inputs that no longer
    * exist, so committing it can never be made safe by retrying).
    */
  private[ops] def commitRewrite(s: SparkSession, logDir: String,
      retired: Seq[String], produced: Seq[String], maxAttempts: Int = 50): Int = {
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val head = headVersion(s, logDir)
      val prev = manifestFiles(s, logDir, head)
      val missing = retired.filterNot(prev.toSet)
      if (missing.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"rewrite conflict in $logDir at v$head: inputs ${missing.mkString(", ")} " +
            "were retired by a concurrent rewrite; re-plan from the new head")
      if (tryCommitDelta(s, logDir, head + 1, "rewrite", produced, retired)) {
        maybeCheckpoint(s, logDir, head + 1)
        return head + 1
      }
    }
    throw new java.io.IOException(
      s"rewrite of ${retired.size}→${produced.size} files lost $maxAttempts CAS races in $logDir")
  }

  /** The declared layout: base load committed as v1, then TWO WRITERS
    * on real threads race to append the held-out rows (split by parity)
    * through [[commitAppend]] — whichever loses the v2 CAS rebases and
    * lands v3. Each writer stages its batch in its OWN directory (a
    * log body names files under any directory of the root, so data
    * files never share a directory with a concurrent writer — no _temporary collisions,
    * the Iceberg anywhere-files shape). The final head is identical
    * regardless of who wins: base ∪ batch_a ∪ batch_b, which is what
    * makes the query deterministic and its full-table oracle a proof
    * of exactly-once: a lost commit drops rows, a double-applied one
    * doubles them, and either breaks the hash.
    */
  private[ops] def concurrentCommitLayout(s: SparkSession, d: String): String =
    Staged.layout(s, "events_cc_commit", eventsSrc(d)) { tmp =>
      val log = commitLogDir(tmp)
      val ev = Tables.events(s, d)
      ev.where(col("event_id") % 10 < 8)
        .repartitionByRange(8, col("event_id"))
        .write.mode("overwrite").parquet(s"$tmp/base")
      require(commitAppend(s, log, listParquet(s, tmp, "base")) == 1)
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val writers = Seq(("a", 0), ("b", 1)).map { case (nm, par) =>
        new Thread(() => {
          try {
            ev.where(col("event_id") % 10 >= 8 && col("event_id") % 2 === par)
              .repartition(2) // batch-sized shuffle: a commit costs the batch
              .write.mode("overwrite").parquet(s"$tmp/batch_$nm")
            commitAppend(s, log, listParquet(s, tmp, s"batch_$nm"))
          } catch { case t: Throwable => failures.add(t) }
        }, s"graft-cc-writer-$nm")
      }
      writers.foreach(_.start())
      writers.foreach(_.join())
      if (!failures.isEmpty) throw failures.peek()
      require(headVersion(s, log) == 3,
        s"two racing appends over v1 must land v2 and v3, got head ${headVersion(s, log)}")
    }

  /** The checkpointed-log layout: ONE ranged write of the events table
    * produces 14 files, committed as 14 sequential incremental appends
    * (v1..v14) — so the log crosses the [[CheckpointInterval]] boundary
    * and v10 publishes its checkpoint — then [[truncateLog]] deletes
    * v1..v9. The declared read reconstructs the head from checkpoint +
    * 4 delta replays over a log whose early history is GONE, which is
    * the property that bounds both commit cost (O(batch) bodies) and
    * reconstruction cost (≤ interval replays) on a 100 TB table with
    * millions of commits. The full-table oracle is the exactly-once
    * law: a file lost to truncation-gone-wrong or double-applied by
    * replay breaks the hash.
    */
  private[ops] def checkpointCommitLayout(s: SparkSession, d: String): String =
    Staged.layout(s, "events_ckpt_commit", eventsSrc(d)) { tmp =>
      val log = commitLogDir(tmp)
      Tables.events(s, d)
        .repartitionByRange(14, col("event_id"))
        .write.mode("overwrite").parquet(s"$tmp/data")
      val files = listParquet(s, tmp, "data")
      require(files.size > CheckpointInterval,
        s"need >$CheckpointInterval files to cross the checkpoint cadence, got ${files.size}")
      files.foreach(f => commitAppend(s, log, Seq(f)))
      require(headVersion(s, log) == files.size)
      val dropped = truncateLog(s, log)
      require(dropped == CheckpointInterval - 1,
        s"truncation must remove v1..v${CheckpointInterval - 1}, removed $dropped")
    }

  val qCommitCheckpoint = Q(
    "q_commit_checkpoint",
    (s, d) => {
      val root = checkpointCommitLayout(s, d)
      snapshotRead(s, root, headVersion(s, commitLogDir(root)))
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          sum(col("value").cast(org.apache.spark.sql.types.DecimalType(28, 2)))
            .cast("double").as("total_value"))
        .orderBy("event_type")
    },
    // the FULL table through checkpoint + post-truncation replay —
    // exactly-once as a hash (see checkpointCommitLayout)
    Some("""SELECT event_type, count(*) AS n_events,
                   count(DISTINCT user_id) AS n_users,
                   CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS total_value
            FROM events
            GROUP BY event_type
            ORDER BY event_type""")
  )

  val qConcurrentCommit = Q(
    "q_concurrent_commit",
    (s, d) => {
      val root = concurrentCommitLayout(s, d)
      typeTotals(snapshotRead(s, root, headVersion(s, commitLogDir(root))))
    },
    // the FULL table: both racing writers' rows exactly once on top of
    // the base commit — the exactly-once law as a hash
    Some("""SELECT event_type, count(*) AS n_events,
                   CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS total_value
            FROM events
            GROUP BY event_type
            ORDER BY event_type""")
  )

  val all: Seq[Q] =
    Seq(qPartitionPrune, qJoinBucketed, qCompact, qManifestSkip, qTimeTravel,
      qVacuum, qSchemaEvolution, qMergeUpsert, qChangeFeed, qDeletionVectors,
      qDvCompact, qConcurrentCommit, qCommitCheckpoint, qBloomSkip)
}
