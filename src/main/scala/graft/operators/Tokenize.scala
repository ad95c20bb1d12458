package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Tokenization pipeline of the reference engine, as pure codegen'd Column
  * expressions (no UDFs — whole-stage codegen keeps this in one fused pass).
  *
  * Reference semantics (verified against the compiled binary, see FIXTURES.md §4):
  *   - split on whitespace (`fscanf("%s")`, reference src/main.cpp:107-117)
  *   - byte-wise lowercase (reference src/main.cpp:120-123)
  *   - delete every byte outside [a-z]: digits, punctuation, underscores and
  *     each byte of a multibyte UTF-8 char vanish; halves of `well-known`
  *     are JOINED, not split (reference src/main.cpp:126-133)
  *   - drop tokens that became empty (reference src/main.cpp:175-177)
  */
object Tokenize {

  /** Clean one raw token: byte-wise lowercase + keep-[a-z] via the native
    * codegen'd CleanToken expression — the reference's exact per-byte loop
    * (one pass, no regex engine; see graft.plans.CleanToken for why this is
    * also more faithful than lower+regexp_replace on exotic Unicode).
    * Idempotent. The DuckDB-oracle mirror stays
    * `regexp_replace(lower(x), '[^a-z]', '', 'g')` — equivalent for all
    * ASCII input (the testdata corpora are pure ASCII; the golden E2E diff
    * is the arbiter for the reference corpus).
    */
  def cleanToken(raw: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.plans.CleanToken(org.apache.spark.sql.GraftBridge.expression(raw)))

  /** Raw whitespace split of a text column (order-preserving array). */
  def rawTokens(text: Column): Column = split(text, "\\s+")

  /** Cleaned, order-preserving, duplicate-preserving token array for a text
    * column — array form (no explode), used where downstream ops want the
    * in-document sequence (shingling, fingerprints).
    */
  def tokenArray(text: Column): Column =
    filter(transform(rawTokens(text), t => cleanToken(t)), w => length(w) > 0)

  /** One row per surviving token occurrence: keeps `keep` columns + `word`.
    * This is the "map" phase of the reference (O2–O6): explode(split) →
    * lower → regexp_replace → filter(length>0), fully fused by codegen.
    */
  def tokens(df: DataFrame, textCol: String = "text", keep: Seq[String] = Seq("doc_id")): DataFrame = {
    val cols = keep.map(col) :+ explode(rawTokens(col(textCol))).as("raw")
    df.select(cols: _*)
      .withColumn("word", cleanToken(col("raw")))
      .where(length(col("word")) > 0)
      .drop("raw")
  }
}
