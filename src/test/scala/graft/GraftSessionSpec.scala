package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.RewriteSortedCollectSet

/** [[GraftSession]] is the only way a session gets the engine's surface:
  * the shared test session carries it whichever suite runs first, and the
  * factory replaces an active plain session instead of returning it.
  */
class GraftSessionSpec extends SparkSpec {

  private def hasSortedSetAgg(s: SparkSession): Boolean =
    s.sessionState.functionRegistry.functionExists(FunctionIdentifier("sorted_set_agg"))

  private def optimizerRules(s: SparkSession): Seq[String] =
    s.sessionState.optimizer.extendedOperatorOptimizationRules.map(_.ruleName)

  private def assertGraftSurface(s: SparkSession): Unit = {
    assert(hasSortedSetAgg(s), "sorted_set_agg is not registered")
    assert(s.range(5).selectExpr("sorted_set_agg(id % 3)").head().getSeq[Long](0) == Seq(0L, 1L, 2L))
    assert(optimizerRules(s).contains(RewriteSortedCollectSet.ruleName),
      s"no graft rule among the optimizer rules: ${optimizerRules(s)}")
  }

  test("the shared test session carries the graft optimizer rules and SQL functions") {
    assertGraftSurface(spark)
    val rewritten = spark.range(10).groupBy(col("id") % 3)
      .agg(sort_array(collect_set(col("id"))))
      .queryExecution.optimizedPlan.toString
    assert(rewritten.contains("sorted_set_agg"), s"rewrite rule did not fire:\n$rewritten")
  }

  test("GraftSession over an active and default plain session returns one with the graft surface") {
    val shared = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // built without the factory on purpose: the plain session a caller may
    // already hold when it asks for a graft one
    val plain = SparkSession.builder().master("local[4]").getOrCreate()
    try {
      assert(SparkSession.getActiveSession.contains(plain) && SparkSession.getDefaultSession.contains(plain))
      assert(!hasSortedSetAgg(plain) && !optimizerRules(plain).contains(RewriteSortedCollectSet.ruleName))
      val s = GraftSession("local[4]", 4)
      assert(s ne plain)
      assertGraftSurface(s)
      assert(s.conf.get("spark.sql.shuffle.partitions") == "4")
      assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    } finally {
      SparkSession.setActiveSession(shared)
      SparkSession.setDefaultSession(shared)
    }
  }

  test("a global window on the shared session logs no 'No Partition Defined' warning") {
    val seen = new ConcurrentLinkedQueue[String]
    val probe = new AbstractAppender("graft-window-warn-probe", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = seen.add(s"${e.getLoggerName}: ${e.getMessage.getFormattedMessage}")
    }
    probe.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(probe, null, null)
    ctx.updateLoggers()
    try {
      // the probe sees WARN lines: one from a logger the session leaves alone
      LogManager.getLogger("graft.GraftSessionSpec").warn("probe line")
      val ranked = spark.range(50).withColumn("rk", row_number().over(Window.orderBy(desc("id"))))
      assert(ranked.where(col("rk") === 1).head().getLong(0) == 49L)
    } finally {
      root.removeAppender(probe.getName)
      ctx.updateLoggers()
      probe.stop()
    }
    val lines = seen.asScala.toSeq
    assert(lines.exists(_.endsWith("probe line")), s"the probe saw no WARN line: $lines")
    assert(!lines.exists(_.contains("No Partition Defined")), lines.mkString("\n"))
  }
}
