package graft

import org.apache.spark.sql.functions._

import org.apache.spark.unsafe.types.UTF8String

/** [[graft.plans.BottomKSampleAgg]] (`bottomk_sample`): the deterministic
  * mergeable bottom-k row sample — exact replay against the window-based
  * definition, no-eviction exactness, order/partitioning independence,
  * unit-level merge fuzz, and batch==streaming.
  */
class BottomKSpec extends SparkSpec {

  test("eviction mode == the window-replay definition (row_number over (hash, value) <= k)") {
    import spark.implicits._
    // 300 rows in 3 groups, k=16 < group size — REAL eviction. The sketch
    // must retain exactly the rows the declarative definition retains.
    val df = (0 until 300).map(i => (s"g${i % 3}", s"id_$i", (i * 37 % 101).toDouble))
      .toDF("g", "id", "v").repartition(7).localCheckpoint(true)
    val got = df.groupBy("g")
      .agg(expr("bottomk_sample(id, v, 16)").as("sm"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    val want = df
      .withColumn("h", conv(substring(md5(col("id")), 1, 15), 16, 10).cast("long"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("g").orderBy("h", "v")))
      .where(col("rn") <= 16)
      .groupBy("g").agg(sort_array(collect_list(struct(col("h"), col("v")))).as("s"))
      .collect().map(r => r.getString(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(_.getDouble(1))).toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (g, s) =>
      assert(s.length == 16 && s == want(g), s"group $g: sketch $s != window replay ${want(g)}")
    }
  }

  test("no eviction (k >= n): the sorted sample IS the full multiset, quantiles exact") {
    import spark.implicits._
    val vals = Seq(5.0, 1.0, 9.0, 1.0, 7.0, 3.0) // duplicate 1.0 must keep multiplicity
    val df = vals.zipWithIndex.map { case (v, i) => (s"id$i", v) }.toDF("id", "v")
    val got = df.agg(expr("bottomk_sample(id, v, 64)").as("sm"))
      .select(sort_array(col("sm"))).collect().head.getSeq[Double](0)
    assert(got == vals.sorted, s"got $got")
  }

  test("deterministic under any partitioning and arrival order") {
    import spark.implicits._
    val base = (0 until 500).map(i => (s"k$i", (i % 83).toDouble))
    def sample(rows: Seq[(String, Double)], parts: Int): Seq[Double] =
      rows.toDF("id", "v").repartition(parts)
        .agg(expr("bottomk_sample(id, v, 32)").as("sm"))
        .collect().head.getSeq[Double](0)
    val a = sample(base, 1)
    val b = sample(scala.util.Random.shuffle(base), 5)
    val c = sample(base.reverse, 13)
    assert(a == b && b == c, "sample must not depend on partitioning or order")
  }

  test("unit fuzz: merged partial sketches == one-shot sketch == brute-force bottom-k") {
    val rnd = new java.util.Random(20260814L)
    for (case_ <- 0 until 100) {
      val k = 1 + rnd.nextInt(20)
      val n = 1 + rnd.nextInt(300)
      // ~10% duplicate row keys (same key AND value) to exercise the
      // multiset tiebreak path
      val rows = (0 until n).map { i =>
        val key = if (rnd.nextInt(10) == 0 && i > 0) s"key_${rnd.nextInt(i)}" else s"key_$i"
        (key, rnd.nextInt(50).toDouble)
      }
      val whole = new graft.plans.BottomKSample(k)
      rows.foreach { case (key, v) => whole.add(UTF8String.fromString(key), v) }
      val nParts = 1 + rnd.nextInt(4)
      val parts = Array.fill(nParts)(new graft.plans.BottomKSample(k))
      rows.foreach { case (key, v) =>
        parts(rnd.nextInt(nParts)).add(UTF8String.fromString(key), v) }
      val merged = parts.reduceLeft { (x, y) => x.merge(y); x }
      def values(s: graft.plans.BottomKSample) =
        s.sorted.toSeq.map(p => (p(0), java.lang.Double.longBitsToDouble(p(1))))
      val brute = rows
        .map { case (key, v) => (graft.plans.KmvSketch.hash60(UTF8String.fromString(key)), v) }
        .sorted.take(k)
      assert(values(whole) == brute, s"case $case_: one-shot != brute force")
      assert(values(merged) == brute, s"case $case_: merged != brute force (parts=$nParts)")
    }
  }

  test("WINDOWED bottomk_sample under a watermark == batch per-window samples") {
    import spark.implicits._
    // the event-time-windowed twin (the KMV/SpaceSaving/CMS windowed
    // discipline): per-hour samples compose with windows + watermark,
    // k-bounded state per open window
    val dir = java.nio.file.Files.createTempDirectory("graft-bk-win")
    val rows = (0 until 2000).map { i =>
      (java.sql.Timestamp.valueOf(f"2024-05-01 ${i % 4}%02d:${(i * 7) % 60}%02d:00"),
        s"id_$i", (i * 31 % 113).toDouble)
    }
    rows.toDF("ts", "id", "v").coalesce(2).write.mode("overwrite").parquet(dir.toString)
    def sample(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(expr("bottomk_sample(id, v, 16)").as("sm"))
      .select(col("w.start").as("h"), col("sm"))
    val stream = sample(spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.DoubleType))))
      .parquet(dir.toString)
      .withWatermark("ts", "1 hour"))
    val q = stream.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete())
      .format("memory").queryName("bk_win").start()
    try q.processAllAvailable()
    finally q.stop()
    def rows2(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getTimestamp(0).getTime, r.getSeq[Double](1))).sortBy(_._1).toSeq
    val got  = rows2(spark.table("bk_win"))
    val want = rows2(sample(spark.read.parquet(dir.toString)))
    assert(got.map(_._1).distinct.length == 4, "four hour windows expected")
    assert(got == want, "per-window streaming samples must equal the batch samples exactly")
  }

  test("bottomk_sample runs UNCHANGED in Structured Streaming (Complete mode) == batch") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-bk-stream")
    (0 until 400).map(i => (s"g${i % 2}", s"id_$i", (i * 13 % 97).toDouble))
      .toDF("g", "id", "v").coalesce(2).write.mode("overwrite").parquet(dir.toString)
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("g", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.DoubleType))))
      .parquet(dir.toString)
      .groupBy("g").agg(expr("bottomk_sample(id, v, 16)").as("sm"))
    val q = stream.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete())
      .format("memory").queryName("bk_stream").start()
    try q.processAllAvailable()
    finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getString(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
    val got  = rows(spark.table("bk_stream"))
    val want = rows(spark.read.parquet(dir.toString)
      .groupBy("g").agg(expr("bottomk_sample(id, v, 16)").as("sm")))
    assert(got == want, "streaming sample must equal the batch sample exactly")
  }
}
