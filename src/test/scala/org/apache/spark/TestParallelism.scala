package org.apache.spark

/** Test hook for a running local context's default parallelism: a local
  * scheduler reads `spark.default.parallelism` from the context's conf on
  * every `defaultParallelism` call, and that conf is only reachable from
  * this package.
  */
object TestParallelism {
  def withDefaultParallelism[T](sc: SparkContext, n: Int)(body: => T): T = {
    val key = "spark.default.parallelism"
    val old = sc.conf.getOption(key)
    sc.conf.set(key, n.toString)
    try body
    finally old.fold(sc.conf.remove(key))(sc.conf.set(key, _))
  }
}
