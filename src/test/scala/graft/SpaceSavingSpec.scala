package graft

import org.apache.spark.sql.functions._

import graft.operators.Tokenize

/** [[graft.plans.SpaceSavingAgg]] (`spacesaving_topk`): exactness when
  * capacity covers the key space, and the classical SpaceSaving guarantees
  * under eviction across a real multi-partition merge tree.
  */
class SpaceSavingSpec extends SparkSpec {

  test("capacity >= distinct keys: sketch is exact with zero error") {
    val toks = Tokenize.tokens(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet"), "text", Seq("doc_id"))
    val got = toks
      .agg(expr("spacesaving_topk(word, 64)").as("sk"))
      .select(explode(col("sk")).as("e"))
      .select(col("e.key"), col("e.est"), col("e.err"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val want = toks.groupBy("word").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.nonEmpty && got.length == want.size, "every key stored when capacity covers vocab")
    got.foreach { case (k, est, err) =>
      assert(est == want(k) && err == 0L, s"$k: est=$est err=$err vs exact=${want(k)}")
    }
  }

  test("fuzz: invariants hold over 200 random streams, splits, and merge orders") {
    // unit-level (no Spark): the min-credit merge rule is the subtle part
    // of the sketch — fuzz it directly against exact counts
    val rnd = new java.util.Random(20260813L)
    for (case_ <- 0 until 200) {
      val capacity = 4 + rnd.nextInt(29) // 4..32
      val nKeys    = 2 + rnd.nextInt(200)
      val nEvents  = 50 + rnd.nextInt(2000)
      // zipf-ish: key i drawn with weight ~ 1/(i+1)
      val stream = Seq.fill(nEvents) {
        var i = 0
        while (i < nKeys - 1 && rnd.nextDouble() > 0.3) i += 1
        s"k$i"
      }
      val truth = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
      // random split into 1..5 partial sketches, random merge order
      val nParts  = 1 + rnd.nextInt(5)
      val parts   = Array.fill(nParts)(new graft.plans.SpaceSavingSketch(capacity))
      stream.foreach(s =>
        parts(rnd.nextInt(nParts)).add(org.apache.spark.unsafe.types.UTF8String.fromString(s)))
      val order   = scala.util.Random.javaRandomToRandom(rnd).shuffle(parts.toList)
      val merged  = order.reduceLeft { (a, b) => a.merge(b); a }
      assert(merged.totalN == nEvents)
      assert(merged.entries.size() <= capacity)
      val n = nEvents.toLong
      val it = merged.entries.entrySet().iterator()
      val reported = scala.collection.mutable.Set[String]()
      while (it.hasNext) {
        val en   = it.next()
        val key  = en.getKey.toString
        val est  = en.getValue()(0)
        val err  = en.getValue()(1)
        val t    = truth.getOrElse(key, 0L)
        reported += key
        assert(est >= t, s"case $case_: $key est=$est < true=$t (cap=$capacity parts=$nParts)")
        assert(est - t <= err, s"case $case_: $key est=$est true=$t err=$err unsound")
        assert(err <= n, s"case $case_: err=$err > N=$n")
      }
      // recall: true count > 2N/capacity must be reported (2x slack over
      // the single-stream N/capacity bound to absorb merge-credit growth)
      truth.filter(_._2 > 2 * n / capacity).keys.foreach { k =>
        assert(reported(k),
          s"case $case_: heavy key $k (true=${truth(k)}, 2N/cap=${2 * n / capacity}) missing")
      }
    }
  }

  test("the sketch aggregate runs UNCHANGED in Structured Streaming (Complete mode)") {
    import spark.implicits._
    // mirror of KmvSpec's streaming test for the raw-stream heavy-hitter
    // story: a TypedImperativeAggregate is just an aggregate, so the same
    // spacesaving_topk expression tree must run as a streaming stateful
    // aggregation — and in no-eviction mode (capacity 64 > 40 keys) the
    // sketch is exact, so streaming must equal batch EXACTLY on a static
    // input, whatever merge tree the micro-batches produce.
    val dir = java.nio.file.Files.createTempDirectory("graft-ss-stream")
    (0 until 3000).map(i => s"key_${i % 40}").toDF("k")
      .coalesce(2).write.mode("overwrite").parquet(dir.toString)
    def explodeSketch(df: org.apache.spark.sql.DataFrame) = df
      .select(explode(col("sk")).as("e"))
      .select(col("e.key"), col("e.est"), col("e.err"))
    val stream = explodeSketch(spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.StringType))))
      .parquet(dir.toString)
      .agg(expr("spacesaving_topk(k, 64)").as("sk")))
    val q = stream.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete())
      .format("memory").queryName("ss_stream").start()
    try q.processAllAvailable()
    finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val got  = rows(spark.table("ss_stream"))
    val want = rows(explodeSketch(
      spark.read.parquet(dir.toString).agg(expr("spacesaving_topk(k, 64)").as("sk"))))
    assert(got == want, s"streaming sketch != batch sketch:\n  $got\n  $want")
  }

  test("WINDOWED spacesaving_topk under a watermark == batch per-window sketches") {
    import spark.implicits._
    // the event-time-windowed streaming twin of q_heavy_keys_per_hour
    // (CmsSpec's windowed discipline, completing the mergeable triad: KMV
    // and CMS already carry this pin): per-hour heavy-hitter sketches
    // compose with windows + watermark like any built-in aggregate, with
    // capacity-bounded state per open window instead of the key set. The
    // key mix varies per row (i % ((i % 50) + 1)) so windows see different
    // distributions; capacity 64 covers each window's key space, so both
    // sides are exact and must agree EXACTLY.
    val dir = java.nio.file.Files.createTempDirectory("graft-ss-win")
    val rows = (0 until 3000).map { i =>
      (java.sql.Timestamp.valueOf(f"2024-05-01 ${i % 4}%02d:${(i * 11) % 60}%02d:00"),
        s"key_${i % ((i % 50) + 1)}")
    }
    rows.toDF("ts", "k").coalesce(2).write.mode("overwrite").parquet(dir.toString)
    def sketch(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(expr("spacesaving_topk(k, 64)").as("sk"))
      .select(col("w.start").as("h"), explode(col("sk")).as("e"))
      .select(col("h"), col("e.key"), col("e.est"), col("e.err"))
    val stream = sketch(spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.StringType))))
      .parquet(dir.toString)
      .withWatermark("ts", "1 hour"))
    val q = stream.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete())
      .format("memory").queryName("ss_win").start()
    try q.processAllAvailable()
    finally q.stop()
    def rows2(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2), r.getLong(3)))
      .sorted.toSeq
    val got  = rows2(spark.table("ss_win"))
    val want = rows2(sketch(spark.read.parquet(dir.toString)))
    assert(got.map(_._1).distinct.length == 4, "four hour windows expected")
    assert(got == want, "per-window streaming sketches must equal the batch sketches exactly")
  }

  test("under eviction: overestimate invariant, per-key error bound, heavy-hitter recall") {
    import spark.implicits._
    val capacity = 16
    // 5 heavy keys (1000+i occurrences) in a sea of 500 singleton keys —
    // far over capacity, spread round-robin over 8 partitions so the
    // final sketch is a REAL merge of 8 partial sketches
    val heavy = (0 until 5).flatMap(i => Seq.fill(1000 + i)(s"heavy_$i"))
    val light = (0 until 500).map(i => s"light_$i")
    val data  = scala.util.Random.javaRandomToRandom(new java.util.Random(42))
      .shuffle(heavy ++ light)
    val df = data.toDF("k").repartition(8).localCheckpoint(true)
    val n  = data.length.toLong
    val truth = data.groupBy(identity).view.mapValues(_.length.toLong).toMap

    val got = df
      .agg(expr(s"spacesaving_topk(k, $capacity)").as("sk"))
      .select(explode(col("sk")).as("e"))
      .select(col("e.key"), col("e.est"), col("e.err"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))

    assert(got.length == capacity, s"sketch stores exactly capacity entries, got ${got.length}")
    got.foreach { case (k, est, err) =>
      val t = truth(k)
      assert(est >= t, s"$k: overestimate invariant violated (est=$est < true=$t)")
      assert(est - t <= err, s"$k: error tracking unsound (est=$est true=$t err=$err)")
      assert(err <= n / capacity + 8, // +8: per-partial rounding across the 8-way merge
        s"$k: err=$err exceeds the N/capacity bound (${n / capacity})")
    }
    // recall: every key with true count > 2N/capacity must be reported
    val reported = got.map(_._1).toSet
    truth.filter(_._2 > 2 * n / capacity).keys.foreach { k =>
      assert(reported(k), s"heavy key $k (true=${truth(k)}) missing from the sketch")
    }
  }
}
