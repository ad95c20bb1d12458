package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.operators.{InvertedIndex, Tokenize}

/** The DataSource V2 manifest line reader must yield exactly the lines a
  * plain-Scala read of the manifest's files gives, and the postings scan the
  * index build reads through must match the line path built on it.
  */
class ManifestV2Spec extends SparkSpec {

  private val manifest = "/root/reference/checker/test.txt"
  private val baseDir  = "/root/reference/checker"

  /** (file_id, line) of every listed file, read without Spark: the manifest's
    * whitespace tokens (count, then paths), each file decoded as UTF-8 and
    * split at `\r\n`, `\r` or `\n`, with no line after a final terminator.
    */
  private def plainLines(manifest: String, base: String): Seq[(Long, String)] = {
    val toks = new String(Files.readAllBytes(Paths.get(manifest)), UTF_8).split("\\s+").filter(_.nonEmpty)
    toks.slice(1, 1 + toks.head.toInt).toSeq.zipWithIndex.flatMap { case (rel, i) =>
      val parts = new String(Files.readAllBytes(Paths.get(base, rel)), UTF_8).split("\r\n|\r|\n", -1).toSeq
      (if (parts.last.isEmpty) parts.init else parts).map((i + 1L) -> _)
    }
  }

  private def assertLines(manifest: String, base: String): Unit = {
    val v2 = spark.read.format("graft-manifest").option("baseDir", base).load(manifest)
      .select("file_id", "line").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val plain = plainLines(manifest, base)
    assert(v2.size == plain.size)
    assert(v2.sorted == plain.sorted, "v2 and plain-Scala line sets must be multiset-identical")
  }

  test("v2 source == a plain-Scala line read on the full reference corpus") {
    assertLines(manifest, baseDir)
  }

  test("v2 source == a plain-Scala line read on the byte-adversarial corpus") {
    val dir = Paths.get(getClass.getResource("/bytes/manifest.txt").toURI).getParent
    assertLines(dir.resolve("manifest.txt").toString, dir.toString)
  }

  test("column pruning reaches the scan") {
    val pruned = spark.read.format("graft-manifest").load(manifest).select("line")
    val scanDesc = pruned.queryExecution.executedPlan.toString
    assert(scanDesc.contains("columns=line"), s"scan must prune to line:\n$scanDesc")
  }

  test("the postings scan matches the line path exactly on the full reference corpus") {
    val linePostings = InvertedIndex.postings(
      Tokenize.tokens(
        spark.read.format("graft-manifest").load(manifest).select("file_id", "line"),
        textCol = "line", keep = Seq("file_id")),
      idCol = "file_id")
    val scanPostings = Engine.indexFromManifest(spark, manifest, baseDir)
    val snapLine = linePostings.orderBy("word").collect().map(r => (r.getString(0), r.getSeq[Long](1)))
    val snapScan = scanPostings.orderBy("word").collect().map(r => (r.getString(0), r.getSeq[Long](1)))
    assert(snapScan.toSeq == snapLine.toSeq)
  }

  test("manifest quirks: blank lines, trailing junk, missing-path errors") {
    val d = java.nio.file.Files.createTempDirectory("graft-v2").toFile
    java.nio.file.Files.write(d.toPath.resolve("a.txt"), "alpha beta".getBytes)
    java.nio.file.Files.write(d.toPath.resolve("b.txt"), "gamma".getBytes)
    // count shares a line with the first path; blank line; trailing junk ignored
    java.nio.file.Files.write(d.toPath.resolve("m.txt"), "2 a.txt\n\nb.txt\nignored.txt".getBytes)
    val rows = spark.read.format("graft-manifest").load(s"${d.getAbsolutePath}/m.txt")
      .orderBy("file_id")
      .collect()
    assert(rows.map(r => (r.getLong(0), r.getString(2))).toSeq ==
      Seq((1L, "alpha beta"), (2L, "gamma")))
  }
}
