package graft.ops

import scala.annotation.tailrec

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions.{sum, when}

/** The one driver for the engine's iterative queries (PageRank, label
  * propagation, k-hop BFS, random walks, connected components, BPE
  * merges). A loop is a round-0 state and ONE step function; the driver
  * owns the round counter, which rounds checkpoint their state through
  * [[Materialize]] (lineage stays O(1) in the round count) and the
  * convergence stop. Driver-side control, executor-side data: only the
  * counter and, for a converging loop, one observed count per round live
  * on the driver.
  *
  * The plan-ledger ([[graft.PlanDump]]) and QueriesPlanSpec hooks run the
  * SAME step once on a lazy round-0 state ([[Loop.once]]), so the
  * audited round is the shipped round.
  */
object Iterate {

  /** One round: its number `k` (from 1) and whether it checkpoints. The
    * step passes every frame it would checkpoint through [[keep]].
    */
  final class Round private[Iterate] (val k: Int, checkpoint: Boolean) {
    private var counted: Option[Observation] = None

    def keep(df: DataFrame): DataFrame = if (checkpoint) Materialize(df) else df

    /** [[keep]] `df`, counting the rows where `changed` holds in the SAME
      * action (observe — no extra job per round; the metric is exact
      * because CollectMetrics runs inside the executed plan).
      * [[Loop.untilStable]] stops after a round that counts 0.
      */
    def keepCounting(df: DataFrame, changed: Column): DataFrame = {
      val obs = new Observation()
      counted = Some(obs)
      keep(df.observe(obs, sum(when(changed, 1L).otherwise(0L)).as("moved")))
    }

    /** Rows this round changed; blocks until the counting checkpoint has
      * run. A sum over an empty frame is SQL NULL: nothing changed.
      */
    private[Iterate] def changed: Long = {
      val obs = counted.getOrElse(
        throw new IllegalStateException(s"round $k ran no keepCounting"))
      Option(obs.get.apply("moved")).map(_.asInstanceOf[Long]).getOrElse(0L)
    }
  }

  /** A loop: its round-0 state and its one round step. */
  final case class Loop[S](init: S, step: (S, Round) => S) {

    /** `rounds` rounds; round k checkpoints when `k % every == 0`, and
      * the last round always does (the caller reads its state).
      */
    def run(rounds: Int, every: Int): S =
      (1 to rounds).foldLeft(init) { (s, k) =>
        step(s, new Round(k, k % every == 0 || k == rounds))
      }

    /** Checkpointed rounds until one changes nothing. Fails LOUDLY after
      * `bound` changing rounds rather than return a half-converged state
      * (an invariant violation must never become a quietly-split result).
      */
    def untilStable(bound: Int, what: String): S = {
      @tailrec def go(s: S, k: Int): S = {
        val r = new Round(k, checkpoint = true)
        val next = step(s, r)
        if (r.changed == 0) next
        else {
          require(k < bound, s"$what did not converge in $bound rounds")
          go(next, k + 1)
        }
      }
      go(init, 1)
    }

    /** The plan hook: one round over the round-0 state, nothing
      * checkpointed — built on a lazy round-0 state, the result's plan
      * is the whole round.
      */
    def once: S = step(init, new Round(1, checkpoint = false))
  }
}
