package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{InvertedIndex, Search, Tokenize}

/** [[Search.andQueryFromIndex]] / [[Search.orQueryFromIndex]]: boolean
  * retrieval served from the ON-DISK letter index (the reference's
  * a.txt…z.txt output format) must equal the live-postings queries under
  * any shuffle-partition count or AQE setting, and the letter and word
  * pruning must happen at planning time.
  */
class IndexServeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private lazy val postings =
    InvertedIndex.postings(
      Tokenize.tokens(spark.read.parquet(s"$dir/documents.parquet"), "text", Seq("doc_id")))

  private lazy val indexDir: String = {
    val out = Files.createTempDirectory("graft-idx-serve-spec").toString
    graft.sources.LetterSink.writeExact(postings, out)
    out
  }

  test("index-served AND == live-postings AND") {
    val words = Seq("spark", "query", "join")
    val served = Search.andQueryFromIndex(spark, indexDir, words).collect().map(_.getLong(0)).toSeq
    val live   = Search.andQuery(postings, words).collect().map(_.getLong(0)).toSeq
    assert(served.nonEmpty, "AND query must match at least one doc at sf0.001")
    assert(served == live)
  }

  test("index-served OR == live-postings OR") {
    val words = Seq("vector", "stream", "merge")
    val served = Search.orQueryFromIndex(spark, indexDir, words)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val live = Search.orQuery(postings, words)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(served.nonEmpty && served == live)
  }

  test("on-disk merge snapshot is byte-identical to the directly-built index") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val full = Files.createTempDirectory("graft-merge-full").toString
    val base = Files.createTempDirectory("graft-merge-base").toString
    val snap = Files.createTempDirectory("graft-merge-snap").toString
    graft.sources.LetterSink.writeExact(Engine.indexFromTable(docs), full)
    graft.sources.LetterSink.writeExact(
      Engine.indexFromTable(docs.where(col("doc_id") % 2 === 0)), base)
    graft.sources.LetterSink.mergeExact(
      spark, base, Engine.indexFromTable(docs.where(col("doc_id") % 2 === 1)), snap)
    ('a' to 'z').foreach { ch =>
      val a = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(full, s"$ch.txt"))
      val b = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(snap, s"$ch.txt"))
      assert(java.util.Arrays.equals(a, b),
        s"$ch.txt: merged snapshot must be byte-identical to the direct build")
    }
  }

  test("query letters prune the scan at planning time") {
    val plan = Search.andQueryFromIndex(spark, indexDir, Seq("spark", "query", "join"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("letters={j,q,s}"),
      s"scan must open only the query terms' letter files:\n$plan")
    val orPlan = Search.orQueryFromIndex(spark, indexDir, Seq("Spark,", "spark", "query"))
      .queryExecution.executedPlan.toString
    assert(orPlan.contains("letters={q,s}, words={query,spark}"),
      s"scan must read only the cleaned, distinct query terms:\n$orPlan")
    // no usable term: the empty IN lists fold to an empty relation during
    // optimization, so no letter file is opened and no job runs
    val none = Search.andQueryFromIndex(spark, indexDir, Seq("!!", "..."))
    val nonePlan = none.queryExecution.executedPlan.toString
    assert(none.collect().isEmpty && nonePlan.contains("LocalTableScan <empty>") &&
      !nonePlan.contains("BatchScan"), s"an all-punctuation query must open no letter file:\n$nonePlan")
  }

  /** Query term lists: 1, 2 and 3 letter files, an absent term, a
    * capitalized and punctuated duplicate, and no usable term at all.
    */
  private val cases = Seq(
    Seq("spark", "stream", "sort"),
    Seq("spark", "query"),
    Seq("spark", "query", "join"),
    Seq("spark", "zzqx"),
    Seq("Spark,", "spark", "JOIN!"),
    Seq("!!", "..."))

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("index-served == live-postings on edge-case terms, at 1 vs 8 partitions and AQE off") {
    val confs = Seq(
      Seq("spark.sql.shuffle.partitions" -> "1"),
      Seq("spark.sql.shuffle.partitions" -> "8"),
      Seq("spark.sql.adaptive.enabled" -> "false"))
    for (words <- cases) {
      val runs = confs.map { c =>
        withConf(c: _*) {
          val and = Search.andQueryFromIndex(spark, indexDir, words).collect().toSeq
          val or  = Search.orQueryFromIndex(spark, indexDir, words).collect().toSeq
          assert(and == Search.andQuery(postings, words).collect().toSeq, s"AND $words under $c")
          assert(or == Search.orQuery(postings, words).collect().toSeq, s"OR $words under $c")
          (and, or)
        }
      }
      assert(runs.distinct.size == 1, s"$words: rows differ across configurations")
      val usable = words.exists(_.exists(_.isLetter))
      assert(runs.head._2.nonEmpty == usable, s"OR $words")
    }
  }
}
