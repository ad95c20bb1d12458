package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{InvertedIndex, Tokenize}
import graft.sources.LetterSink

/** End-to-end inverted-index pipeline: the whole reference program
  * (manifest → tokenize → group → rank → 26 letter files) as one declarative
  * Spark plan. The reference's mappers become the scan: each task tokenizes
  * its bin of files and emits one partial postings row per distinct word.
  * The reference's first pthread barrier needs no exchange of its own: the
  * scan already groups each bin's ids by word. Its second barrier, after
  * which each reducer owns whole letters, becomes the one exchange, by
  * first letter: each reduce task merges its words' lists, ranks its
  * letters and writes their files
  * ([[graft.sources.LetterSink.writeExact]]) — see SURVEY §3.
  */
object Engine {

  /** Build postings for a manifest corpus (distributed end of the pipeline).
    * Reads through the `graft-manifest-postings` DataSource V2 scan: one task
    * per core tokenizes its bin-packed files and dedups (word, file id)
    * pairs in memory, so no token row is materialized, and
    * [[InvertedIndex.mergePartials]] merges the per-bin lists after one
    * shuffle on word. The line path (`graft-manifest` +
    * [[Tokenize.tokens]] + [[InvertedIndex.postings]]) gives the same rows.
    */
  def indexFromManifest(spark: SparkSession, manifestPath: String, baseDir: String): DataFrame =
    InvertedIndex.mergePartials(partials(spark, manifestPath, baseDir))

  /** Full golden-parity run: write `a.txt`…`z.txt` under `outDir`. The
    * scan's partial rows go to the sink as they are: its reducers merge
    * each word's lists, so the build plans no word aggregate.
    */
  def buildIndex(spark: SparkSession, manifestPath: String, baseDir: String, outDir: String): Seq[String] =
    LetterSink.writeExact(partials(spark, manifestPath, baseDir), outDir)

  /** The scan's rows: one `(word, doc_ids)` per distinct word of each bin. */
  private def partials(spark: SparkSession, manifestPath: String, baseDir: String): DataFrame =
    spark.read
      .format("graft-manifest-postings")
      .option("baseDir", baseDir)
      .load(manifestPath)

  /** Build postings from any table with a text column — the parquet-era
    * equivalent of the manifest pipeline (documents table, web-crawl shards,
    * ...). Same tokenizer, same postings semantics.
    */
  def indexFromTable(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    InvertedIndex.postings(Tokenize.tokens(docs, textCol, Seq(idCol)), idCol)
}
