package graft

/** User-facing CLI for the flagship job — the Spark analogue of the
  * reference binary's `./tema1 <mappers> <reducers> <input_file>`
  * (/root/reference/src/main.cpp:9-42,266-325): build the inverted index
  * for a manifest corpus and write `a.txt`…`z.txt`.
  *
  * Usage:
  *   graft.Main <mappers> <reducers> <manifest> [outDir]
  *   graft.Main <manifest> [outDir]
  *
  * The reference's mapper/reducer thread counts map onto Spark's
  * parallelism: max(mappers, reducers) becomes the local core count and
  * shuffle partitioning (on a cluster, executor sizing replaces this —
  * Spark's scheduler is the dynamic task queue the reference hand-rolled).
  * Output directory defaults to the manifest's directory, matching the
  * reference's relative-output behavior.
  */
object Main {

  private def usage(): Nothing = {
    System.err.println("Usage: graft.Main [<mappers> <reducers>] <manifest> [outDir]")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val (parallelism, rest) = args.toList match {
      case m :: r :: tail if m.forall(_.isDigit) && r.forall(_.isDigit) && tail.nonEmpty =>
        if (m.toInt < 1 || r.toInt < 1) {
          // reference main.cpp:16-19 rejects non-positive thread counts
          System.err.println("Error: The number of mappers and reducers must be positive")
          sys.exit(2)
        }
        (m.toInt.max(r.toInt), tail)
      case other => (Runtime.getRuntime.availableProcessors(), other)
    }
    val (manifest, outDir) = rest match {
      case m :: Nil      => (m, new java.io.File(m).getAbsoluteFile.getParent)
      case m :: o :: Nil => (m, o)
      case _             => usage()
    }
    if (!new java.io.File(manifest).isFile) {
      System.err.println(s"Error: manifest not found: $manifest")
      sys.exit(1)
    }
    val baseDir = new java.io.File(manifest).getAbsoluteFile.getParent

    val spark = GraftSession(sys.env.getOrElse("SPARK_MASTER", s"local[$parallelism]"), parallelism)
    try {
      val written = Engine.buildIndex(spark, manifest, baseDir, outDir)
      println(s"wrote ${written.size} letter files to $outDir")
    } finally spark.stop()
  }
}
