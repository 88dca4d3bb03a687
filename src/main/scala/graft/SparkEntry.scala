package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator family from SURVEY §2 is one entry in [[queries]];
  * SQL-expressible semantics carry a DuckDB oracle in [[oracleSql]]
  * (driver t2 hash-compares both at sf0.01). Determinism discipline is
  * documented on [[graft.ops.Q]].
  */
object SparkEntry {

  /** All declared queries, by family (SURVEY §2.A ops + §2.C E1-E13). */
  private val declared: Seq[Q] =
    Relational.all ++ IngestQueries.all ++ Dedup.all ++ TextOps.all ++
      Similarity.all ++ Multimodal.all ++ Partitioned.all ++ Sampling.all ++
      Quality.all ++ Composite.all ++ Curation.all ++ Graph.all ++ Vocab.all ++
      Seq(AutoDateAgg.qAutoDateAgg, TopKAgg.qTopkPerKey) ++ graft.streaming.Replay.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * the reference's own pipeline shape — ingest the pp-complete fixture,
    * type it, return the rows (ops 4-8 end-to-end).
    */
  def entry(spark: SparkSession): DataFrame =
    IngestQueries.qIngestPp.fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    declared.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for the engine-specific sketches
    * (q_approx_distinct, q_quantiles, q_cms_terms,
    * q_decontaminate_bloom, q_dedup_simhash, q_mm_phash,
    * q_profile_approx) → driver records a weaker rows-only check; each
    * is law-verified by its spec instead. InventorySpec.noOracleByDesign
    * is the asserted source of truth for this list (declared minus
    * oracled must equal it exactly).
    */
  def oracleSql: Map[String, String] =
    declared.collect { case Q(n, _, Some(sql)) => n -> sql }.toMap

  /** The dev subset filter of `Bench` and `Verify`:
    * `SPARK_GRAFT_ONLY=q_a, q_b` selects those queries; unset, all.
    */
  def only: Option[Set[String]] = subset(sys.env.get("SPARK_GRAFT_ONLY"))

  /** A comma list of query names, each trimmed, empty entries dropped. */
  private[graft] def subset(spec: Option[String]): Option[Set[String]] =
    spec.map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
}
