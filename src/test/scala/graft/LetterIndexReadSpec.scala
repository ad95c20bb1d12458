package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.functions._

import graft.operators.{InvertedIndex, Tokenize}

/** [[graft.sources.LetterIndexDataSource]]: the golden letter files read
  * back as a table — content parity with the raw files, letter pruning at
  * planning time, column pruning at the scan. The word-lookup tests read an
  * index built from the bundled test data, so they run on every host.
  */
class LetterIndexReadSpec extends SparkSpec {

  private val goldenDir = "/root/reference/checker/test_out"

  private def golden = spark.read.format("graft-letters").load(goldenDir)

  test("reading the reference's own golden output: every line, parsed faithfully") {
    val lineCount = ('a' to 'z').map { ch =>
      val p = Paths.get(goldenDir, s"$ch.txt")
      if (Files.exists(p)) Files.readAllLines(p).asScala.count(_.nonEmpty) else 0
    }.sum
    val rows = golden.collect()
    assert(rows.length == lineCount, s"one row per golden line ($lineCount)")
    // spot parity: the first line of a.txt is rank 1 with the exact ids
    val aFirst = Files.readAllLines(Paths.get(goldenDir, "a.txt")).get(0)
    val word   = aFirst.takeWhile(_ != ':')
    val ids    = aFirst.dropWhile(_ != '[').drop(1).takeWhile(_ != ']')
      .split(' ').filter(_.nonEmpty).map(_.toLong).toSeq
    val got = golden.where(col("letter") === "a" && col("rank") === 1).collect().head
    assert(got.getString(2) == word && got.getSeq[Long](3) == ids && got.getInt(4) == ids.length,
      s"a.txt rank-1 parity: $got vs $aFirst")
    // df is always the posting-list length, rank is dense 1..n per letter
    assert(rows.forall(r => r.getInt(4) == r.getSeq[Long](3).length))
    val byLetter = rows.groupBy(_.getString(0))
    byLetter.foreach { case (l, rs) =>
      assert(rs.map(_.getInt(1)).sorted.toSeq == (1 to rs.length).toSeq, s"dense ranks in $l")
    }
  }

  test("letter pushdown prunes files at planning time; residual filters survive") {
    val one = golden.where(col("letter") === "q")
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("letters={q}"), s"scan must advertise the pruned letter set:\n$plan")
    assert(one.collect().forall(_.getString(0) == "q"))
    // IN lists intersect with equality (conjunction), empty intersection reads nothing
    val none = golden.where(col("letter").isin("a", "b") && col("letter") === "c")
    assert(none.collect().isEmpty)
    assert(none.queryExecution.executedPlan.toString.contains("letters={}"),
      "contradictory letter predicates must prune everything at planning time")
    // non-letter predicates are NOT consumed: df filter still evaluated
    val hot = golden.where(col("letter") === "t" && col("df") >= 5)
    assert(hot.collect().forall(r => r.getString(0) == "t" && r.getInt(4) >= 5))
  }

  test("limit pushdown stops the file parse at the top-n impact-ordered lines") {
    val top = golden.where(col("letter") === "q").limit(3)
    val plan = top.queryExecution.executedPlan.toString
    assert(plan.contains("limit=3"), s"scan must advertise the pushed limit:\n$plan")
    // q.txt is a single partition, so the limit is deterministic: exactly
    // the first 3 lines in the sink's (df DESC, word ASC) serving order
    val got = top.orderBy("rank").collect().map(r => (r.getInt(1), r.getString(2)))
    val want = Files.readAllLines(Paths.get(goldenDir, "q.txt")).asScala
      .take(3).zipWithIndex.map { case (l, i) => (i + 1, l.takeWhile(_ != ':')) }
    assert(got.toSeq == want.toSeq)
  }

  test("column pruning skips the posting parse; sink roundtrip is lossless") {
    val wordsOnly = golden.select("word")
    assert(wordsOnly.queryExecution.executedPlan.toString.contains("columns=word"),
      "required-column pushdown must reach the scan")
    assert(wordsOnly.count() == golden.count())
    // roundtrip: engine postings -> writeExact -> DSv2 read == original relation
    val out = Files.createTempDirectory("graft-letters-rt").toString
    val postings = Engine.indexFromManifest(
      spark, "/root/reference/checker/test_small.txt", "/root/reference/checker")
    graft.sources.LetterSink.writeExact(postings, out)
    val back = spark.read.format("graft-letters").load(out)
      .select(col("word"), col("doc_ids"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val orig = postings
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(back == orig, "writeExact -> graft-letters roundtrip must be lossless")
  }

  private lazy val builtDir: String = {
    val out = Files.createTempDirectory("graft-letters-words").toString
    graft.sources.LetterSink.writeExact(
      InvertedIndex.postings(Tokenize.tokens(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"), "text", Seq("doc_id"))),
      out)
    out
  }

  private def built = spark.read.format("graft-letters").load(builtDir)

  private def key(r: Row) = (r.getString(0), r.getInt(1), r.getString(2), r.getSeq[Long](3), r.getInt(4))

  /** Every row of the built index, read without any pushed predicate. */
  private lazy val fullScan = built.collect().map(key).toSeq

  /** The deepest line of s.txt: a word that is never its file's first line. */
  private lazy val deep = fullScan.filter(_._1 == "s").maxBy(_._2)

  test("pushed word = / IN return exactly the matching rows, with file rank and df") {
    assert(deep._2 > 1)
    val words = Seq(deep._3, "query", "zzqx") // zzqx is in no document
    val got = built.where(col("word").isin(words: _*))
    val plan = got.queryExecution.executedPlan
    assert(plan.collect { case f: FilterExec => f }.isEmpty,
      s"the word IN filter must be consumed by the scan:\n$plan")
    assert(got.collect().map(key).sortBy(_._3).toSeq ==
      fullScan.filter(r => words.contains(r._3)).sortBy(_._3))
    assert(got.count() == 2)
    assert(built.where(col("word") === deep._3).collect().map(key).toSeq == Seq(deep))
    // IN lists on one column intersect, like the letter sets
    val both = built.where(col("word").isin("query", "spark") && col("word").isin("spark", "stream"))
    assert(both.queryExecution.executedPlan.toString.contains("words={spark}"))
    assert(both.collect().map(key).toSeq == fullScan.filter(_._3 == "spark"))
  }

  test("a pushed limit counts emitted rows, not lines read") {
    val top = built.where(col("word") === deep._3).limit(1)
    val plan = top.queryExecution.executedPlan.toString
    assert(plan.contains("limit=1") && plan.contains(s"words={${deep._3}}"),
      s"word set and limit must both reach the scan:\n$plan")
    assert(top.collect().map(key).toSeq == Seq(deep),
      s"${deep._3} is line ${deep._2} of s.txt; a line-counting limit stops at line 1")
    // the two deepest lines of s.txt: a limit that counts lines read stops
    // after the first of them
    val two = fullScan.filter(_._1 == "s").sortBy(_._2).takeRight(2)
    assert(two.head._2 > 2)
    val both = built.where(col("word").isin(two.map(_._3): _*)).limit(2)
    assert(both.queryExecution.executedPlan.toString.contains("limit=2"))
    assert(both.collect().map(key).sortBy(_._2).toSeq == two)
  }

  test("a df predicate stays residual next to a pushed word set") {
    val sample = fullScan.take(30)
    val words = sample.map(_._3)
    val cut = sample.map(_._5).sorted.apply(15)
    val hot = built.where(col("word").isin(words: _*) && col("df") >= cut)
    val plan = hot.queryExecution.executedPlan.toString
    assert("Filter .*df".r.findFirstIn(plan).nonEmpty, s"df must be filtered above the scan:\n$plan")
    assert(hot.collect().map(key).sortBy(_._3).toSeq ==
      fullScan.filter(r => words.contains(r._3) && r._5 >= cut).sortBy(_._3))
  }

  test("letter pushdown prunes files at planning time; residual filters survive, on the built index") {
    val one = built.where(col("letter") === "q")
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("letters={q}"), s"scan must advertise the pruned letter set:\n$plan")
    val qRows = one.collect()
    assert(qRows.nonEmpty, "the built index has q words")
    assert(qRows.forall(_.getString(0) == "q"))
    assert(qRows.map(key).sortBy(_._2).toSeq == fullScan.filter(_._1 == "q").sortBy(_._2))
    val none = built.where(col("letter").isin("a", "b") && col("letter") === "c")
    assert(none.queryExecution.executedPlan.toString.contains("letters={}"),
      "contradictory letter predicates must prune everything at planning time")
    assert(none.collect().isEmpty)
    val hot = built.where(col("letter") === "t" && col("df") >= 5)
    assert("Filter .*df".r.findFirstIn(hot.queryExecution.executedPlan.toString).nonEmpty,
      "the df filter must stay above the scan")
    val hotRows = hot.collect()
    assert(hotRows.nonEmpty, "the built index has t words with df >= 5")
    assert(hotRows.forall(r => r.getString(0) == "t" && r.getInt(4) >= 5))
  }

  test("the EXPLAIN scan line lists the pushed words") {
    val explain = built.where(col("word").isin("spark", "join")).queryExecution.simpleString
    val scan = explain.linesIterator.find(_.contains("BatchScan")).getOrElse(fail(explain))
    assert(scan.contains("words={join,spark}"), explain)
  }
}
