package graft

import org.apache.spark.sql.functions._

import graft.plans.BloomJoin

/** Bloom-pruned join == plain join (false positives only — pruning can
  * never drop a match), and the probe really sits on the big side's scan
  * stage as a codegen'd filter below the join.
  */
class BloomJoinSpec extends SparkSpec {

  test("bloom-pruned join is row-identical to the plain join") {
    import spark.implicits._
    val big = (1L to 5000L).map(i => (i % 500, s"row$i")).toDF("k", "payload")
    val small = Seq((3L, "a"), (17L, "b"), (444L, "c"), (9999L, "d")).toDF("k", "tag")
    val plain = big.join(small, Seq("k")).collect().map(_.toSeq).toSet
    val pruned = BloomJoin.bloomPrunedJoin(big, small, "k", expectedItems = 16)
      .collect().map(_.toSeq).toSet
    assert(pruned == plain)
    assert(plain.nonEmpty, "fixture must actually join")
  }

  test("the might_contain probe filters the big side below the join") {
    import spark.implicits._
    val big = (1L to 1000L).map(i => (i, i * 2)).toDF("k", "v")
    val small = Seq((1L, "x"), (2L, "y")).toDF("k", "tag")
    val plan = BloomJoin.bloomPrunedJoin(big, small, "k", expectedItems = 16)
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), s"no bloom probe in plan:\n$plan")
    // the probe must appear in a Filter, not be folded into the join itself
    val filterLines = plan.linesIterator.filter(l =>
      l.contains("Filter") && l.contains("might_contain")).toSeq
    assert(filterLines.nonEmpty, s"bloom probe is not a Filter:\n$plan")
  }
}
