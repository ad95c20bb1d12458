package graft

import org.apache.spark.sql.functions._

import graft.operators.{InvertedIndex, Tokenize}

/** The custom aggregate + rewrite rule must be result-identical to the
  * two-step sort_array(collect_set(...)) form it replaces.
  */
class ExtensionsSpec extends SparkSpec {

  private def tokens = Tokenize.tokens(
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet"), "text", Seq("doc_id"))

  test("sorted_set_agg function equals sort_array(collect_set)") {
    val viaFunction = tokens
      .groupBy("word")
      .agg(expr("sorted_set_agg(doc_id)").as("doc_ids"))
      .orderBy("word")
      .collect()
      .map(r => (r.getString(0), r.getSeq[Long](1)))
    val viaTwoStep = tokens
      .groupBy("word")
      .agg(sort_array(collect_set(col("doc_id"))).as("doc_ids"))
      .orderBy("word")
      .collect()
      .map(r => (r.getString(0), r.getSeq[Long](1)))
    assert(viaFunction.nonEmpty)
    assert(viaFunction.toSeq == viaTwoStep.toSeq)
  }

  test("rewrite rule fires on sort_array(collect_set) and preserves results") {
    val df = InvertedIndex.postings(tokens)
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("sorted_set_agg"), s"rule did not fire:\n$optimized")
    // postings still correct under the rewritten plan
    val rows = df.orderBy("word").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val ids = r.getSeq[Long](r.fieldIndex("doc_ids"))
      assert(ids == ids.sorted && ids.distinct == ids, s"bad postings for ${r.getString(0)}")
    }
  }

  test("SQL-registered function works via spark.sql") {
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").createOrReplaceTempView("docs_ext")
    val n = spark
      .sql("SELECT size(sorted_set_agg(doc_id)) AS n FROM docs_ext")
      .collect()
      .head
      .getInt(0)
    assert(n > 0)
  }
}
