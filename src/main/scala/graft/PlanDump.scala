package graft

import org.apache.spark.sql.execution.FormattedMode

/** Writes `.explain("formatted")` for the named queries to
  * `<outDir>/<query>_<tag>.txt` — the per-query before/after plan evidence
  * the optimization rounds commit under plans/r{N}/.
  *
  * Usage: `runMain graft.PlanDump <outDir> <tag> <sfDir> q_a q_b ...`
  * (an unknown query name fails before Spark starts)
  *
  * Same session as Bench ([[GraftSession]] on `GraftSession.cpus` cores)
  * so the dumped initial plan is the one the bench runs.
  * Iterative queries (the dedup-groups family) execute their loop during
  * DataFrame construction; their dumped plan is the final served relation,
  * matching the EXPLAIN_r{N} convention.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag    = args(1)
    val sfDir  = args(2)
    val defs   = SparkEntry.lookup(args.drop(3).toIndexedSeq: _*)
    val cpus   = GraftSession.cpus
    val spark  = GraftSession(s"local[$cpus]", cpus)
    new java.io.File(outDir).mkdirs()
    defs.foreach { case QueryDef(name, build, _, _) =>
      try {
        val txt = build(spark, sfDir).queryExecution.explainString(FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${name}_$tag.txt"),
          (s"== $name ($tag, sf=$sfDir) ==\n" + txt).getBytes("UTF-8"))
        println(s"[plandump] wrote $outDir/${name}_$tag.txt")
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
