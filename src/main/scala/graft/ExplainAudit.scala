package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode

/** Writes the formatted-physical-plan audit (EXPLAIN_r{N}.md) for every
  * registered query, on a session with the engine's extensions installed —
  * the same optimizer surface Bench/Main/Verify run — so plan regressions
  * (a lost pushdown, a demoted broadcast, a Window sneaking into an argmax
  * path, the sorted_set_agg rewrite not firing) are reviewable in diffs.
  * A static query contributes its plan; an iterative query runs jobs while
  * its DataFrame is built, so it contributes its [[Iteration]] body, the
  * plan each round repeats.
  *
  * Plans go through [[planText]], so the artifact does not depend on
  * which queries one JVM built before.
  *
  * Usage: `runMain graft.ExplainAudit <outFile> [sfDir]`.
  */
object ExplainAudit {

  /** Counters a JVM hands out in build order: exchange ids (`[id=#N]`), AQE
    * stage ids, expression ids, lambda variables, RDD ids, observation names.
    */
  private val Counter = """(id=#|plan_id=|#|\b[xyz]_|RDD\[|graft_cc_audit_)(\d+)""".r

  /** `df`'s formatted plan with each [[Counter]] kind renumbered by first
    * appearance, lambda classes without addresses, RDD call sites without
    * source lines and the per-JVM [[SparkEntry.scratchRoot]] as
    * `<scratch>`: a plan's text does not depend on what the JVM built
    * before, nor on which JVM built it.
    */
  def planText(df: DataFrame): String = {
    val seen = scala.collection.mutable.Map.empty[(String, String), Int]
    Counter.replaceAllIn(df.queryExecution.explainString(FormattedMode)
      .replace(SparkEntry.scratchRoot.toString, "<scratch>")
      .replaceAll("""\$\$Lambda[^\s,)\]]*@[0-9a-f]+""", "\\$\\$Lambda")
      .replaceAll("""(RDD\[\d+\] at \w+) at [\w$.]+:\d+""", "$1"), { m =>
      val kind = m.group(1)
      val n = seen.getOrElseUpdate((kind, m.group(2)), seen.keys.count(_._1 == kind) + 1)
      scala.util.matching.Regex.quoteReplacement(s"$kind$n")
    })
  }

  /** The audit's round label: `N` of an `EXPLAIN_rN` output name (leading
    * zeros dropped), else the output file's base name.
    */
  def roundLabel(outFile: String): String = {
    val name = java.nio.file.Paths.get(outFile).getFileName.toString
    """EXPLAIN_r0*(\d+)""".r.findFirstMatchIn(name).fold(name)(_.group(1))
  }

  def main(args: Array[String]): Unit = {
    // no default: a stale hardcoded round number silently mislabels the
    // artifact (round 6 shipped under an r05 default)
    val outFile = args.headOption.getOrElse(
      sys.error("usage: runMain graft.ExplainAudit <outFile> [sfDir]"))
    val sfDir   = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = GraftSession("local[4]", 4)
    spark.sparkContext.setLogLevel("ERROR")

    val round = roundLabel(outFile)
    val sb = new StringBuilder
    def section(title: String, df: DataFrame): Unit =
      sb ++= s"## $title\n\n```\n${planText(df)}```\n\n"
    val (static, iterative) = SparkEntry.registry.partition(_.iteration.isEmpty)
    sb ++= s"# EXPLAIN audit — round $round ($sfDir, extensions installed, AQE on)\n\n"
    sb ++=
      """Formatted physical plans of every static query, generated by
        |`runMain graft.ExplainAudit` on a session carrying GraftExtensions —
        |the same optimizer surface the bench and CLI run. Things to check per
        |plan: filters sit in `PushedFilters`, `ReadSchema` is pruned to used
        |columns, small sides are `BroadcastExchange`, aggregates show a
        |`partial_`/`sorted_set_agg` pass below the exchange, no `Window`
        |appears in argmax/top-k paths, and every document-side Window
        |partitions by a bounded key (e.g. packing's `(lang, __chunk)`).
        |""".stripMargin
    sb ++= "\n"
    static.foreach(q => section(q.name, q.build(spark, sfDir)))
    sb ++=
      s"""# Iterative queries — representative-iteration plans
        |
        |The ${iterative.size} driver-loop queries run jobs during DataFrame construction
        |(trainer argmax collects, fixpoint checkpoints), so no single static
        |plan exists. Each section below is the fixed LOOP BODY the query
        |repeats — the plan that must stay scale-shaped. Loop-state inputs
        |(checkpointed label/vocab/centroid relations at runtime) appear as
        |their lazy derivations; encode-side plans use a literal merge table.
        |""".stripMargin
    sb ++= "\n"
    iterative.foreach { q =>
      section(s"${q.name} (representative iteration)", q.iteration.get.body(spark, sfDir))
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outFile),
      sb.toString.getBytes("UTF-8"))
    println(s"wrote ${static.size} static + ${iterative.size} representative-iteration plans to $outFile")
    spark.stop()
  }
}
