package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each registered query's result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd+ args: restrict to the named queries (local iteration);
    // the driver's two-arg invocation dumps everything. An unknown name
    // fails before Spark starts: a typo must not read as an empty, green run.
    val Array(sfDir, outDir) = args.take(2)
    val defs =
      try if (args.length > 2) SparkEntry.lookup(args.drop(2).toIndexedSeq: _*) else SparkEntry.registry
      catch { case e: IllegalArgumentException =>
        System.err.println(s"[verify] ${e.getMessage}")
        sys.exit(2)
      }
    val cpus = GraftSession.cpus
    // extensions on the correctness path too: the sorted_set_agg rewrite
    // then runs under every oracle compare, not just its own spec
    val spark = GraftSession(s"local[$cpus]", cpus)
    new java.io.File(outDir).mkdirs()
    defs.foreach { d =>
      val name = d.name
      try d.build(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // A failed query must still produce an artifact: round 10's
        // correctness file silently SHRANK from 193 to 176 entries because
        // failures emitted no parquet and the compare skipped the key. A
        // one-row (err) parquet instead forces a red row — schema mismatch
        // with the error text visible — never a missing one.
        try {
          import spark.implicits._
          Seq(Option(e.getMessage).getOrElse(e.toString).take(1000)).toDF("err")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case e2: Throwable =>
          System.err.println(s"[verify] $name error artifact also failed: ${e2.getMessage}")
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // registry order, so two runs write files that diff cleanly
    val json = defs.map(d => s"${q(d.name)}: ${q(d.oracleSql)}").mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
