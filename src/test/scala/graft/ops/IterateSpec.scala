package graft.ops

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** Laws of the one loop driver, and the ratchet that keeps every
  * iterative query on it: a loop body written once (its step, which the
  * plan hooks also run) and each graph input built in one place.
  */
class IterateSpec extends SparkSpec {

  private def source(path: String): String =
    new String(Files.readAllBytes(Paths.get(path)), "UTF-8")

  private def checkpointed(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[LogicalRDD]

  test("run: round k checkpoints on the cadence and in the last round; once checkpoints nothing") {
    val seen = Seq.newBuilder[(Int, Boolean)]
    val loop = Iterate.Loop[DataFrame](spark.range(4).toDF("n"), (df, r) => {
      val next = r.keep(df.select((col("n") + 1).as("n")))
      seen += (r.k -> checkpointed(next))
      next
    })
    val out = loop.run(5, 2)
    assert(seen.result() == Seq(1 -> false, 2 -> true, 3 -> false, 4 -> true, 5 -> true))
    assert(out.collect().map(_.getLong(0)).sorted.toSeq == Seq(5L, 6L, 7L, 8L))
    seen.clear()
    assert(!checkpointed(loop.once))
    assert(seen.result() == Seq(1 -> false))
  }

  test("untilStable: stops after the first round that changes nothing") {
    // halve every value until all are 0: 8 -> 4 -> 2 -> 1 -> 0, then one
    // round that moves nothing
    var rounds = 0
    val out = Iterate.Loop[DataFrame](spark.range(9).toDF("n"), (df, r) => {
      rounds = r.k
      r.keepCounting(df.select(col("n"), (col("n") / 2).cast("long").as("h")),
        col("h") < col("n")).select(col("h").as("n"))
    }).untilStable(64, "halving")
    assert(rounds == 5)
    assert(out.collect().forall(_.getLong(0) == 0L))
  }

  test("untilStable: a step that never converges fails with the loop's message at the bound") {
    var rounds = 0
    val err = intercept[IllegalArgumentException] {
      Iterate.Loop[DataFrame](spark.range(3).toDF("n"), (df, r) => {
        rounds = r.k
        r.keepCounting(df, lit(true))
      }).untilStable(4, "spinner")
    }
    assert(err.getMessage.contains("spinner did not converge in 4 rounds"), err.getMessage)
    assert(rounds == 4, s"ran $rounds rounds, bound 4")
  }

  test("ratchet: no *Round plan twin in src/main; Graph builds each graph input once") {
    val walk = Files.walk(Paths.get("src/main"))
    val sources =
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      } finally walk.close()
    assert(sources.size > 50, s"source walk found only ${sources.size} files")
    val twins = for {
      f <- sources
      m <- """def \w*Round\(""".r.findAllIn(source(f.toString))
    } yield s"$f: $m"
    assert(twins.isEmpty,
      s"a hand-written round twin is back (plan hooks run the loop's own step): ${twins.mkString(", ")}")
    val graph = source("src/main/scala/graft/ops/Graph.scala")
    def occurrences(word: String) =
      Iterator.iterate(graph.indexOf(word))(i => graph.indexOf(word, i + 1)).takeWhile(_ >= 0).size
    for (word <- Seq("col(\"o_custkey\") * 2", ".where(col(\"support\") >= 2)"))
      assert(occurrences(word) == 1,
        s"`$word` is written ${occurrences(word)} times in Graph.scala: one function, not a copy")
  }

  test("ratchet: Graph, Dedup and the BPE delta loop hand-roll no loop (Iterate drives them)") {
    val vocab = source("src/main/scala/graft/ops/Vocab.scala")
    val start = vocab.indexOf("private def bpeDeltaLoop(")
    assert(start >= 0, "bpeDeltaLoop not found")
    val end = vocab.indexOf("\n  }\n", start)
    val bodies = Seq(
      "Graph.scala" -> source("src/main/scala/graft/ops/Graph.scala"),
      "Dedup.scala" -> source("src/main/scala/graft/ops/Dedup.scala"),
      "Vocab.bpeDeltaLoop" -> vocab.substring(start, end))
    val loops = for {
      (name, text) <- bodies
      m <- """for \(\w+ <- 1 to|while \(moved""".r.findAllIn(text)
    } yield s"$name: $m"
    assert(loops.isEmpty, s"hand-rolled loop outside Iterate: ${loops.mkString(", ")}")
  }
}
