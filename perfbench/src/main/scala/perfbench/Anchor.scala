package perfbench

/** Computes the mixes' expected outputs: for each query, the fingerprint
  * of a live run and of its `graft.Verify` dump (the parquet the DuckDB
  * oracle compared). Prints `name<TAB>rows<TAB>hashSum<TAB>dumpRows<TAB>dumpHashSum`.
  *
  * Usage: Anchor <tableDir> <verifyDumpDir> <query>...
  */
object Anchor {
  def main(args: Array[String]): Unit = {
    val Array(dataDir, dumpDir) = args.take(2)
    val spark = graft.Sessions.local(Runtime.getRuntime.availableProcessors())
    args.drop(2).foreach { name =>
      val (rows, hash) = MixWorkload.fingerprint(graft.SparkEntry.queries(name)(spark, dataDir))
      val (dRows, dHash) = MixWorkload.fingerprint(spark.read.parquet(s"$dumpDir/$name"))
      println(s"ANCHOR\t$name\t$rows\t$hash\t$dRows\t$dHash")
    }
    spark.stop()
  }
}
