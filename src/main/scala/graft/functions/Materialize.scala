package graft.functions

import org.apache.spark.sql.Dataset

/** The engine's one materialization policy: every eager checkpoint of a
  * relation goes through `pin()`, so where its blocks live is set once. */
object Materialize {

  /** Materialization barrier. Default (`spark.graft.materialize` unset or
    * `local`): eager `localCheckpoint(true)` — blocks live in the executors'
    * block managers, the right call on a cluster where the relation is
    * spread over many JVMs. `spark.graft.materialize = disk`: eager RELIABLE
    * `checkpoint(true)` — blocks go to `spark.sparkContext`'s checkpoint
    * dir instead of pinning the block manager, the right call for a
    * single-JVM local[32] scale sweep where an eager localCheckpoint of a
    * 55M-edge relation pins every block in ONE heap (SCALEBENCH_r15 OOMed
    * at pagerank 50× on the default 8 GiB driver and had to fork to 24g;
    * the disk mode runs the same sweep uninterrupted at 8g), and the one
    * that survives a lost executor. Both modes truncate lineage
    * identically, so plan shapes and results are byte-identical — only
    * block placement changes. Requires `setCheckpointDir` when `disk` is
    * selected.
    */
  implicit class Pinned[T](private val ds: Dataset[T]) extends AnyVal {
    def pin(): Dataset[T] =
      if (ds.sparkSession.conf.getOption("spark.graft.materialize").contains("disk"))
        ds.checkpoint(true)
      else ds.localCheckpoint(true)
  }
}
