package graft

import graft.ops.{IngestQueries, Staged}
import graft.tools.Probe.render

/** The plan ledger's renderer ([[graft.tools.Probe.render]]) is
  * byte-stable: a query over staged layouts prints the same text under
  * two tmpdirs, and no absolute tmpdir, warehouse or checkout path
  * survives the masking.
  */
class PlanLedgerSpec extends SparkSpec {
  private val queries = Seq("q_partition_prune", "q_join_bucketed", "q_ingest_pp")

  /** The plans of `queries` rendered in a fresh [[Staged.isolated]]
    * tmpdir, with that tmpdir.
    */
  private def renderIsolated(): (String, Seq[String]) = {
    val s = spark // started outside: its block-manager dirs outlive the tmpdir
    Staged.isolated {
      (Staged.root, queries.map(q => render(SparkEntry.queries(q)(s, sf0001).queryExecution)))
    }
  }

  test("render: the same plans under two tmpdirs are byte-identical") {
    val (rootA, a) = renderIsolated()
    val (rootB, b) = renderIsolated()
    assert(rootA != rootB)
    for ((q, (pa, pb)) <- queries.zip(a.zip(b))) assert(pa == pb, s"$q renders differently")
  }

  test("render: no absolute tmpdir, warehouse or checkout path is left in the text") {
    val (root, plans) = renderIsolated()
    val text = plans.mkString
    val warehouse = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    for (path <- Seq(root, s"${Staged.jvmRoot}/", warehouse, IngestQueries.checkout))
      assert(!text.contains(path), s"$path is left in a rendered plan")
    for (masked <- Seq("<tmpdir>/graft_events_by_day_<key>", "<tmpdir>/graft_bkt_<key>/lineitem_b",
        "graft_bkt_<key>_orders_b", "<checkout>/src/test/resources/pp_complete.csv"))
      assert(text.contains(masked), s"no $masked in the rendered plans")
  }
}
