package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.TestParallelism.withDefaultParallelism
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import graft.operators.{InvertedIndex, Tokenize}
import graft.sources.{ManifestDataSource, ManifestPostingsReader}

/** The `graft-manifest-postings` scan tokenizes each bin of files inside
  * the scan; its index must equal the line path's (`graft-manifest` lines,
  * [[Tokenize.tokens]], [[InvertedIndex.postings]]) on a byte-adversarial
  * corpus under `src/test/resources/bytes`: the FIXTURES §4 rows, every
  * ASCII whitespace separator, invalid and truncated UTF-8 next to letters,
  * NUL bytes, an empty file, a file with no trailing newline, tokens that
  * straddle the reader's 64 KiB reads and one file listed twice.
  */
class ManifestPostingsSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val dir: Path = Paths.get(getClass.getResource("/bytes/manifest.txt").toURI).getParent
  private val manifest = dir.resolve("manifest.txt").toString
  private lazy val files = ManifestDataSource.parseManifest(manifest)

  private def lines(mf: String): DataFrame =
    spark.read.format("graft-manifest").option("baseDir", dir.toString).load(mf).select("file_id", "line")

  private def linePostings(mf: String): DataFrame =
    InvertedIndex.postings(Tokenize.tokens(lines(mf), textCol = "line", keep = Seq("file_id")), idCol = "file_id")

  private def rows(df: DataFrame): Seq[(String, Seq[Long], Int, String)] =
    df.orderBy("word").collect().map(r => (r.getString(0), r.getSeq[Long](1), r.getInt(2), r.getString(3))).toSeq

  private lazy val want = rows(linePostings(manifest))

  test("the line path's index of the byte-adversarial corpus covers what the corpus was built for") {
    val ids = want.map(r => r._1 -> r._2).toMap
    // FIXTURES §4 rows; the twice-listed file has ids 2 and 7; NEL, NBSP and
    // U+2028 join halves; bytes of invalid UTF-8 vanish; NUL is content
    assert(Seq("abc", "dont", "wellknown", "cafs", "xyz", "hello", "quoted", "rd", "abcdef", "caf", "nave")
      .forall(ids.get(_).contains(Seq(1L))))
    assert(!ids.contains("") && !ids.values.exists(_.contains(5L)), "the empty file posts nothing")
    assert(ids("alpha") == Seq(2L, 6L, 7L) && ids("iota") == Seq(2L, 7L))
    assert(Seq("abcd", "ef", "gh", "ij", "kl", "mn", "op", "st", "nobre", "akit", "sur", "qr")
      .forall(ids.get(_).contains(Seq(3L))))
    assert(Seq("null", "lead", "trail", "alphabeta").forall(ids.get(_).contains(Seq(4L))))
    assert(ids("omega") == Seq(6L) && ids("z" * 200) == Seq(6L))
    assert(Seq("split", "chunk", "boundry", "xy", "tok", "a", "midword").forall(ids.get(_).contains(Seq(8L))))
  }

  test("postings scan == line path, at 1 and 4 cores and at 1 and 8 shuffle partitions") {
    for (cores <- Seq(1, 4); parts <- Seq(1, 8)) withDefaultParallelism(spark.sparkContext, cores) {
      spark.conf.set("spark.sql.shuffle.partitions", parts.toLong)
      try {
        val got = Engine.indexFromManifest(spark, manifest, dir.toString)
        assert(got.schema == linePostings(manifest).schema)
        assert(rows(got) == want, s"cores=$cores, shuffle partitions=$parts")
      } finally spark.conf.set("spark.sql.shuffle.partitions", 4L)
    }
  }

  test("readers flushed at file boundaries emit disjoint rows that merge to the same postings") {
    for (flushIds <- Seq(1L, 40L, ManifestPostingsReader.FlushIds)) {
      // files listed in descending id order: the reader still emits ascending ids
      val reader = new ManifestPostingsReader(files.reverse, flushIds)
      val partials = Iterator.continually(reader).takeWhile(_.next()).map { r =>
        val row = r.get()
        row.getUTF8String(0).toString -> row.getArray(1).toLongArray().toSeq
      }.toList
      reader.close()
      partials.foreach { case (w, ids) => assert(ids.nonEmpty && ids == ids.sorted.distinct, w) }
      val pairs = partials.flatMap { case (w, ids) => ids.map(w -> _) }
      assert(pairs.distinct.size == pairs.size, s"flushIds=$flushIds: a (word, id) pair repeats")
      // a flush after every file with ids: each row holds one file's id
      if (flushIds == 1L) assert(partials.forall(_._2.size == 1))
      if (flushIds == ManifestPostingsReader.FlushIds) assert(partials.size == want.size)
      val merged = partials.groupBy(_._1).view.mapValues(_.flatMap(_._2).sorted).toSeq.sortBy(_._1)
      assert(merged == want.map(r => r._1 -> r._2), s"flushIds=$flushIds")
    }
  }

  test("the scan reports files, bytes, tokens and partial rows as plan metrics") {
    val wordsOf = Tokenize.tokens(lines(manifest), textCol = "line", keep = Seq("file_id"))
      .distinct().collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getString(1)).toSet).toMap
    val tokens = Tokenize.tokens(lines(manifest), textCol = "line", keep = Seq("file_id")).count()
    for (cores <- Seq(1, 4)) withDefaultParallelism(spark.sparkContext, cores) {
      val idx = Engine.indexFromManifest(spark, manifest, dir.toString)
      idx.collect()
      val Seq(scan) = collect(idx.queryExecution.executedPlan) { case b: BatchScanExec => b }
      def metric(name: String): Long = scan.metrics(name).value
      assert(metric("files") == 8)
      assert(metric("bytes") == files.map(f => Files.size(Paths.get(f._2))).sum)
      assert(metric("tokens") == tokens)
      // one row per distinct word of each bin
      val perBin = ManifestDataSource.packBins(files, cores)
        .map(_.flatMap(f => wordsOf.getOrElse(f._1, Set.empty[String])).toSet.size).sum
      assert(metric("partial_rows") == perBin)
      assert(scan.metrics("numOutputRows").value == perBin)
      if (cores == 1) assert(perBin == want.size)
    }
  }

  test("a 0-document manifest plans no scan partition and builds an empty index") {
    val none = dir.resolve("none.txt").toString
    val idx = Engine.indexFromManifest(spark, none, dir.toString)
    assert(collect(idx.queryExecution.executedPlan) { case b: BatchScanExec => b.inputPartitions.size } == Seq(0))
    assert(idx.collect().isEmpty && linePostings(none).collect().isEmpty)
    val out = Files.createTempDirectory("graft-postings-none")
    assert(Engine.buildIndex(spark, none, dir.toString, out.toString).map(p => Files.size(Paths.get(p))) == Seq.fill(26)(0L))
  }

  test("a manifest entry whose file is missing fails the build") {
    val d = Files.createTempDirectory("graft-postings-missing")
    Files.writeString(d.resolve("a.txt"), "alpha\n")
    Files.writeString(d.resolve("m.txt"), "2\na.txt\nmissing.txt\n")
    val out = d.resolve("out")
    for (build <- Seq(
        () => Engine.indexFromManifest(spark, d.resolve("m.txt").toString, d.toString).collect(),
        () => Engine.buildIndex(spark, d.resolve("m.txt").toString, d.toString, out.toString))) {
      val e = intercept[Exception](build())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[java.io.FileNotFoundException]), e.toString)
    }
    // the scan fails before the driver writes any letter file
    assert(!Files.exists(out.resolve("a.txt")))
  }
}
