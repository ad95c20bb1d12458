package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{InvertedIndex, Tokenize}
import graft.sources.{LetterSink, ManifestSource}

/** End-to-end inverted-index pipeline: the whole reference program
  * (manifest → tokenize → group → rank → 26 letter files) as one declarative
  * Spark plan. The reference's first pthread barrier becomes the one shuffle
  * exchange (word hash-partitioning for the aggregate); its second, before
  * the per-letter rank, becomes the collect to the driver, where
  * [[graft.sources.LetterSink.writeExact]] ranks each letter's rows and
  * writes the files in order, as the reference does — see SURVEY §3.
  */
object Engine {

  /** Build postings for a manifest corpus (distributed end of the pipeline).
    * Reads through the DataSource V2 manifest format: positional ids travel
    * with the scan partitions — no path join, no driver-side collects on the
    * read path (the older `ManifestSource.docLines` assembly remains for
    * comparison and is spec-asserted identical in ManifestV2Spec).
    */
  def indexFromManifest(spark: SparkSession, manifestPath: String, baseDir: String): DataFrame = {
    val lines = spark.read
      .format("graft-manifest")
      .option("baseDir", baseDir)
      .load(manifestPath)
      .select("file_id", "line")
    val toks = Tokenize.tokens(lines, textCol = "line", keep = Seq("file_id"))
    InvertedIndex.postings(toks, idCol = "file_id")
  }

  /** Full golden-parity run: write `a.txt`…`z.txt` under `outDir`. */
  def buildIndex(spark: SparkSession, manifestPath: String, baseDir: String, outDir: String): Seq[String] =
    LetterSink.writeExact(indexFromManifest(spark, manifestPath, baseDir), outDir)

  /** Build postings from any table with a text column — the parquet-era
    * equivalent of the manifest pipeline (documents table, web-crawl shards,
    * ...). Same tokenizer, same postings semantics.
    */
  def indexFromTable(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    InvertedIndex.postings(Tokenize.tokens(docs, textCol, Seq(idCol)), idCol)
}
