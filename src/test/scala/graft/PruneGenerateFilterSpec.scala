package graft

import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis

/** [[graft.plans.PruneInferredGenerateFilter]]: the inferred pre-Generate
  * `size>0 AND isnotnull` filter must be stripped when it re-derives an
  * expensive computed generator input (the r13 double-eval finding), kept
  * when the generator input is a cheap scanned column (where it can prune
  * at the scan), and the rewritten plan must stay result-identical.
  */
class PruneGenerateFilterSpec extends SparkSpec {

  private def docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  /** Filter nodes of the optimized plan, as strings. */
  private def filters(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition.toString
    }

  test("expensive computed explode input: no filter re-derives the expression") {
    val df = TextAnalysis.withShingles(docs, "text", 5)
      .select(col("doc_id"), explode(col("shingles")).as("sh"))
      .groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val bad = filters(df).filter(_.contains("graft_clean_token"))
    assert(bad.isEmpty,
      s"inferred pre-Generate filter re-derives the tokenize+shingle tree:\n${bad.mkString("\n")}")
  }

  test("CASE-shaped explode input (chunk enumeration) is stripped too") {
    // the q_chunk_docs shape: explode of CASE WHEN size(toks)=0 THEN []
    // ELSE sequence(...) END — NullPropagation rewrites the inferred
    // isnotnull into a CASE, which the rule must still recognize
    val toks = TextAnalysis.withShingles(docs, "text", 1, "toks")
    val df = toks
      .select(col("doc_id"),
        explode(when(size(col("toks")) === 0, array().cast("array<bigint>"))
          .otherwise(sequence(lit(0L), size(col("toks")).cast("long") - 1))).as("i"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val bad = filters(df).filter(_.contains("graft_clean_token"))
    assert(bad.isEmpty,
      s"CASE-shaped inferred filter survived:\n${bad.mkString("\n")}")
  }

  test("cheap attribute explode input: inferred scan-prunable filter is KEPT") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val df = emb.select(col("vec_id"), explode(col("embedding")).as("x"))
    val fs = filters(df)
    assert(fs.exists(f => f.contains("isnotnull(embedding")),
      s"isnotnull on a scanned array column should survive (it prunes at the scan):\n$fs")
  }

  test("stripped plan is result-identical to the unstripped plan") {
    val build = () => TextAnalysis.withShingles(docs, "text", 5)
      .select(col("doc_id"), explode(col("shingles")).as("sh"))
      .groupBy(col("sh")).agg(count(lit(1)).as("df"), min(col("doc_id")).as("d"))
      .orderBy(col("sh"))
    val withRule = build().collect()
    val ruleName = graft.plans.PruneInferredGenerateFilter.ruleName
    val prev = spark.conf.getOption("spark.sql.optimizer.excludedRules")
    spark.conf.set("spark.sql.optimizer.excludedRules", ruleName)
    try {
      val withoutRule = build().collect()
      assert(withRule.nonEmpty && withRule.toSeq == withoutRule.toSeq)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.optimizer.excludedRules", v)
        case None    => spark.conf.unset("spark.sql.optimizer.excludedRules")
      }
    }
  }
}
