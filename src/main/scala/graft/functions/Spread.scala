package graft.functions

import org.apache.spark.sql.{Column, DataFrame}

/** Scale-adaptive parallelism repair for CPU-heavy map segments
  * (optimization guide §2: derive partitioning from input size — never a
  * constant tuned for one deployment).
  *
  * A small parquet input opens as very few scan partitions (the bench
  * corpora are single-file, single-row-group parquets: EVERY scan opens as
  * ONE partition), so everything before the first exchange — the
  * tokenize+shingle explode, per-shingle md5 digests, codec decodes — runs
  * on one core regardless of the master's parallelism. At real scale the
  * same scan opens thousands of splits and needs no help.
  *
  * [[Spread.apply]] therefore repartitions by hash of `keys` to the session
  * default parallelism ONLY when the plan's estimated size (the same
  * planner estimate broadcast decisions read) could not fill half the cores
  * at the session's split size (`spark.sql.files.maxPartitionBytes`). Above
  * that threshold the scan is already wide and this is the IDENTITY — no
  * exchange is ever added at cluster scale, so nothing heavy is ever
  * re-shuffled (guide §8's "move big rows once" rule is preserved).
  *
  * Hash-by-key, never round-robin: the row→partition map is deterministic
  * under task retries (SPARK-38388) and skips the local
  * sort-before-repartition a keyless `repartition(n)` pays.
  */
object Spread {
  def apply(df: DataFrame, keys: Column*): DataFrame = {
    require(keys.nonEmpty, "Spread needs at least one deterministic key column")
    if (narrow(df)) df.repartition(target(df), keys: _*) else df
  }

  /** Keyless stats-guarded fan — [[apply]]'s narrow test, round-robin
    * re-fan. For the compute-dense stage ABOVE an aggregate whose own hash
    * partitioning would let a same-key repartition be elided (and then
    * AQE-coalesced): a keyless exchange cannot be elided, and its explicit
    * partition count cannot be coalesced. Identity on wide/unknown-size
    * plans, so checkpoint-derived callers (whose stats report the
    * unknown-size default) and cluster-scale plans are untouched.
    */
  def fan(df: DataFrame): DataFrame =
    if (narrow(df)) df.repartition(target(df)) else df

  /** Parallelism repair for a compute-dense segment ABOVE a post-shuffle
    * stage, decided by the ACTUAL partition count of an already-
    * materialized upstream relation (`anchor`, typically the operator's
    * eager [[Materialize]] pin) instead of planner stats — checkpointed inputs
    * report the unknown-size default and blind the stats guard above.
    *
    * The pathology (r21 profiling, guide §2): AQE's byte-based coalescing
    * folds a sub-MiB exchange into ONE post-shuffle partition, and the
    * quadratic in-bucket pair expansion / per-candidate array verification
    * behind it then runs single-threaded. When the anchor shows the plan is
    * in that narrow regime (fewer materialized partitions than half the
    * session parallelism), re-fan `df` with an EXPLICIT keyless round-robin
    * repartition — AQE must respect a user-specified partition count, and a
    * keyless exchange cannot be elided against the aggregate's existing
    * hash partitioning the way a same-key one is. On a wide (real-scale)
    * anchor this is the identity: no exchange is ever added on a cluster,
    * where the post-shuffle stage is already parallel.
    */
  def fanFrom(anchor: DataFrame, df: DataFrame, keys: Column*): DataFrame = {
    val n = target(df)
    val narrow =
      try anchor.rdd.getNumPartitions < math.max(1, n / 2)
      catch { case scala.util.control.NonFatal(_) => false }
    if (!narrow) df
    // keyed form: used immediately below a join/agg that REQUIRES this hash
    // partitioning, so the explicit (non-coalescible) exchange doubles as
    // the join's required distribution and no second exchange appears
    else if (keys.nonEmpty) df.repartition(n, keys: _*)
    else df.repartition(n)
  }

  private def target(df: DataFrame): Int = df.sparkSession.sparkContext.defaultParallelism

  // the planner's size estimate cannot fill half the cores at the split size
  private def narrow(df: DataFrame): Boolean = {
    val split = df.sparkSession.sessionState.conf.filesMaxPartitionBytes
    try df.queryExecution.optimizedPlan.stats.sizeInBytes <
      BigInt(split) * math.max(1, target(df) / 2)
    catch { case scala.util.control.NonFatal(_) => false }
  }
}
