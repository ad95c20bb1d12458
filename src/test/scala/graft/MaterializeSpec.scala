package graft

import java.nio.file.Files

/** The one materialization policy (`graft.functions.Materialize`): under
  * `spark.graft.materialize=disk` every pin of the checkpoint-heavy queries
  * becomes a reliable checkpoint, the rows stay those of the default local
  * policy, and no block is left persisted in the block manager (a local
  * checkpoint persists its RDD; a reliable one does not).
  */
class MaterializeSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private val policy = "spark.graft.materialize"

  private lazy val checkpointDir: Unit =
    spark.sparkContext.setCheckpointDir(Files.createTempDirectory("graft-materialize").toString)

  private def rows(name: String): Seq[String] =
    SparkEntry.lookup(name).head.build(spark, sfDir).collect().map(_.toString).toSeq

  /** Runs `body` under the disk policy and restores the session's policy
    * after, so no later suite inherits it.
    */
  private def underDisk[A](body: => A): A = {
    checkpointDir
    val before = spark.conf.getOption(policy)
    spark.conf.set(policy, "disk")
    try body
    finally before.fold(spark.conf.unset(policy))(spark.conf.set(policy, _))
  }

  for (q <- Seq("q_pagerank", "q_dedup_end2end", "q_cf_eval", "q_bpe_merges"))
    test(s"$q: the disk policy gives the default policy's rows and persists no RDD") {
      val local = rows(q)
      assert(local.nonEmpty, s"$q returned no rows at $sfDir")
      underDisk {
        val persisted = spark.sparkContext.getPersistentRDDs.keySet
        assert(rows(q) == local, s"$q: rows differ under the disk policy")
        val left = spark.sparkContext.getPersistentRDDs.keySet -- persisted
        assert(left.isEmpty, s"$q: the disk policy left persisted RDDs ${left.toSeq.sorted}")
      }
      assert(spark.conf.getOption(policy).isEmpty, "the policy must be restored")
    }
}
