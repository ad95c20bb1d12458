package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Partitioned text sink matching the reference byte-for-byte (O11,
  * reference src/main.cpp:298-320): 26 files `a.txt`…`z.txt`, line format
  * `word:[id1 id2 ... idN]` (no space after ':', ids space-separated,
  * 1-based, ascending), lines ordered df DESC then word ASC, and EMPTY
  * buckets still emit an (empty) file.
  *
  * Two variants:
  *  - `writeExact`: driver-side rank and write of the 26 buckets — mirrors
  *    the reference, which ranks each bucket in memory and then writes the
  *    files one after another (src/main.cpp:225-236, README.md:125-133), and
  *    produces the exact filenames the golden checker diffs. The collect is
  *    bounded by the index size (postings), not the corpus size; the heavy
  *    lifting (tokenize/group) stays distributed.
  *  - `writePartitioned`: fully distributed `partitionBy("letter")` text write
  *    for at-scale use, where exact filenames don't matter but parallel IO does.
  */
object LetterSink {

  private def formatted(postings: DataFrame): DataFrame =
    postings.select(
      col("letter"),
      col("df"),
      col("word"),
      concat(col("word"), lit(":["), array_join(col("doc_ids"), " "), lit("]")).as("line"))

  /** One collected line and its rank key within its letter. */
  private final case class Ranked(df: Int, word: UTF8String, line: String)

  /** df DESC (a null df last), then word ASC in Spark's binary UTF-8 order:
    * the order `orderBy(desc("df"), asc("word"))` gives.
    */
  private val byRank: Ordering[Ranked] = (x, y) =>
    if (x.df != y.df) Integer.compare(y.df, x.df) else x.word.binaryCompare(y.word)

  /** Driver-side exact sink: returns the 26 output paths.
    *
    * One job: the formatted rows are collected unsorted straight off the
    * aggregate, then each letter's rows are ranked on the driver. A global
    * `orderBy` would add a sampling job and a range exchange, each of which
    * recomputes the final aggregate, plus a sort stage. Rows whose letter is
    * outside a-z are dropped; an empty letter still gets an (empty) file,
    * as x.txt is empty in the golden output.
    */
  def writeExact(postings: DataFrame, outDir: String): Seq[String] = {
    val out = Paths.get(outDir)
    Files.createDirectories(out)
    val buckets = Array.fill(26)(Array.newBuilder[Ranked])
    formatted(postings).collect().foreach { r =>
      val letter = r.getString(0)
      if (letter != null && letter.length == 1 && letter(0) >= 'a' && letter(0) <= 'z')
        buckets(letter(0) - 'a') += Ranked(
          if (r.isNullAt(1)) Int.MinValue else r.getInt(1), UTF8String.fromString(r.getString(2)), r.getString(3))
    }
    ('a' to 'z').map { ch =>
      val p = out.resolve(s"$ch.txt")
      val body = buckets(ch - 'a').result().sorted(byRank).iterator.map(_.line + "\n").mkString
      Files.write(p, body.getBytes(StandardCharsets.UTF_8))
      p.toString
    }
  }

  /** Incremental maintenance of an ON-DISK letter index: read the existing
    * `a.txt`…`z.txt` snapshot back through the `graft-letters` DSv2 reader,
    * array-union the delta's postings per word
    * ([[graft.operators.InvertedIndex.mergeIndexes]]), and write the merged
    * result to `outDir` as a NEW snapshot — the input dir is never touched
    * (immutable-snapshot semantics: readers of the old index keep a
    * consistent view while the merge runs, exactly how an at-scale index
    * rolls versions). Completes the format's lifecycle: build → write →
    * read → query → MAINTAIN, all in the reference's own file format.
    *
    * Returns the 26 output paths.
    */
  def mergeExact(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      delta: DataFrame,
      outDir: String): Seq[String] = {
    val existing = spark.read.format("graft-letters").load(indexDir)
      .select(col("word"), col("doc_ids"))
    writeExact(graft.operators.InvertedIndex.mergeIndexes(existing, delta), outDir)
  }

  /** Distributed sink: dir-per-letter text write (`letter=a/part-*.txt`).
    *
    * Ranks through [[graft.operators.InvertedIndex.rankedWithinLetters]],
    * whose in-partition sort leads with `letter` deliberately: the dynamic
    * partitioned write requires rows clustered by the partition column,
    * and when the child ordering doesn't already provide that, the
    * planner inserts its OWN sort on `letter` alone — which is not
    * guaranteed stable, so the (df DESC, word ASC) line order inside
    * each letter could be scrambled. Leading with `letter` satisfies the
    * write requirement up front, no extra sort is planned, and each
    * letter's file carries the exact reference line order — pinned
    * byte-equal by LetterSinkSpec to the plain-Scala reference model on
    * the hand-built corpus, and to [[writeExact]] on both golden corpora.
    */
  def writePartitioned(postings: DataFrame, outDir: String): Unit =
    graft.operators.InvertedIndex.rankedWithinLetters(formatted(postings))
      .select("letter", "line")
      .write
      .mode("overwrite")
      .partitionBy("letter")
      .text(outDir)

  /** Distributed twin of [[mergeExact]] (r13 task 6): the same
    * immutable-snapshot merge — read the existing `a.txt`…`z.txt`
    * snapshot through the DSv2 reader, array-union the delta per word,
    * write a NEW snapshot — but through [[writePartitioned]]'s parallel
    * letter-partitioned sink instead of the driver-side exact files.
    * The input dir is never touched, so readers of the old snapshot keep
    * a consistent view while the merge runs; at 100 TB this is the shape
    * an index roll actually takes (distributed read → one word-keyed
    * full-outer join shuffle → distributed partitioned write; nothing
    * index-sized ever visits the driver). Per-letter content is pinned
    * byte-equal by LetterSinkSpec to the model's merged index on the
    * hand-built corpus, and to [[mergeExact]] on both golden corpora.
    */
  def mergePartitioned(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      delta: DataFrame,
      outDir: String): Unit = {
    val existing = spark.read.format("graft-letters").load(indexDir)
      .select(col("word"), col("doc_ids"))
    writePartitioned(graft.operators.InvertedIndex.mergeIndexes(existing, delta), outDir)
  }
}
