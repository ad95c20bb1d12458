package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Ad-hoc profiling driver (not part of the bench contract): for each named
  * query, one warm run, then an instrumented run that prints wall time plus
  * every stage's executor run time / task count / shuffle + input bytes, so
  * the expensive stage of a slow query is identified by MEASUREMENT (guide
  * §1) instead of plan-reading guesswork. Queries run in registry order;
  * an unknown name fails before Spark starts.
  */
object Scratch {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val defs  = SparkEntry.lookup(args.toIndexedSeq: _*)
    val cpus  = GraftSession.cpus
    val spark = GraftSession(s"local[$cpus]", cpus)
    def run(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def clearRdds(): Unit = {
      try spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      catch { case scala.util.control.NonFatal(_) => () }
      System.gc(); System.gc()
    }

    final case class St(name: String, runMs: Long, tasks: Int,
        shufR: Long, shufW: Long, input: Long, gcMs: Long)
    val stages = scala.collection.mutable.ArrayBuffer[St]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        stages.synchronized {
          stages += St(si.name.takeWhile(_ != '\n'), m.executorRunTime, si.numTasks,
            m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
            m.inputMetrics.bytesRead, m.jvmGCTime)
        }
      }
    }

    defs.foreach { case QueryDef(name, fn, _, _) =>
      run(fn(spark, sfDir)) // warm: codegen + JIT
      clearRdds()
      run(fn(spark, sfDir)) // second warm (steady state)
      clearRdds()
      stages.clear()
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      run(fn(spark, sfDir))
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(1500) // let the listener bus drain
      spark.sparkContext.removeSparkListener(listener)
      println(f"[scratch] ===== $name wall=$wall%.3f s, ${stages.size} stages =====")
      val top = stages.sortBy(-_.runMs)
      top.take(25).foreach { s =>
        println(f"[scratch] ${s.runMs}%7d ms run ${s.gcMs}%5d gc ${s.tasks}%4d tasks " +
          f"in=${s.input / 1024}%8d KiB sr=${s.shufR / 1024}%8d KiB sw=${s.shufW / 1024}%8d KiB  ${s.name}%s")
      }
      println(f"[scratch] total executor run = ${top.map(_.runMs).sum}%d ms over ${top.map(_.tasks).sum}%d tasks")
    }
    spark.stop()
  }
}
