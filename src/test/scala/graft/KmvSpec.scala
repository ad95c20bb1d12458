package graft

import org.apache.spark.sql.functions._

/** [[graft.plans.KmvNdvAgg]] (`kmv_ndv`): exact below k, deterministic
  * under repartitioning (the property HLL lacks), and unbiased enough at
  * k=256 over a known key space.
  */
class KmvSpec extends SparkSpec {

  private def sketch(df: org.apache.spark.sql.DataFrame, k: Int) = df
    .agg(expr(s"kmv_ndv(k, $k)").as("r"))
    .select(col("r.ndv_est"), col("r.sample"))
    .collect().map(r => (r.getDouble(0), r.getSeq[String](1))).head

  test("k >= distinct keys: exact count, sample holds every distinct value") {
    import spark.implicits._
    val df = (0 until 1000).map(i => s"v${i % 40}").toDF("k")
    val (est, sample) = sketch(df, 64)
    assert(est == 40.0, s"below k the sketch has seen everything: $est")
    assert(sample.toSet == (0 until 40).map(i => s"v$i").toSet)
  }

  test("estimation mode is deterministic under any partitioning") {
    import spark.implicits._
    val base = (0 until 5000).map(i => s"key_$i")
    val a = sketch(base.toDF("k").repartition(1), 64)
    val b = sketch(base.toDF("k").repartition(8), 64)
    val c = sketch(scala.util.Random.javaRandomToRandom(new java.util.Random(7))
      .shuffle(base).toDF("k").repartition(3), 64)
    assert(a == b && b == c,
      s"bottom-k of a fixed hash must not depend on partitioning/order: $a / $b / $c")
  }

  test("the sketch aggregates run UNCHANGED in Structured Streaming (Complete mode)") {
    import spark.implicits._
    // a TypedImperativeAggregate is just an aggregate: the same kmv_ndv
    // expression tree must work as a streaming stateful aggregation and,
    // on a static input, equal the batch result exactly (determinism again)
    val dir = java.nio.file.Files.createTempDirectory("graft-kmv-stream")
    (0 until 3000).map(i => s"key_${i % 700}").toDF("k")
      .coalesce(2).write.mode("overwrite").parquet(dir.toString)
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.StringType))))
      .parquet(dir.toString)
      .agg(expr("kmv_ndv(k, 64)").as("r"))
      .select(col("r.ndv_est"), col("r.sample"))
    val q = stream.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete())
      .format("memory").queryName("kmv_stream").start()
    try q.processAllAvailable()
    finally q.stop()
    val got = spark.table("kmv_stream")
      .collect().map(r => (r.getDouble(0), r.getSeq[String](1))).head
    val want = sketch(spark.read.parquet(dir.toString), 64)
    assert(got == want, s"streaming sketch $got != batch sketch $want")
  }

  test("WINDOWED kmv_ndv under a watermark == batch per-window NDV (distinct users/hour)") {
    import spark.implicits._
    // the "distinct users per hour" shape: the sketch composes with
    // event-time windows + watermark exactly like any built-in aggregate,
    // with k entries of state per open window instead of the key set
    val dir = java.nio.file.Files.createTempDirectory("graft-kmv-win")
    val rows = (0 until 4000).map { i =>
      (java.sql.Timestamp.valueOf(f"2024-05-01 ${i % 6}%02d:${(i * 7) % 60}%02d:00"),
        s"user_${(i * 13) % 900}")
    }
    rows.toDF("ts", "u").coalesce(2).write.mode("overwrite").parquet(dir.toString)
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("u", org.apache.spark.sql.types.StringType))))
      .parquet(dir.toString)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(expr("kmv_ndv(u, 64)").as("r"))
      .select(col("w.start").as("h"), col("r.ndv_est").as("ndv"),
        array_join(col("r.sample"), " ").as("smp"))
    val q = stream.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete())
      .format("memory").queryName("kmv_win").start()
    try q.processAllAvailable()
    finally q.stop()
    val got = spark.table("kmv_win").orderBy("h")
      .collect().map(r => (r.getTimestamp(0), r.getDouble(1), r.getString(2))).toSeq
    val want = spark.read.parquet(dir.toString)
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(expr("kmv_ndv(u, 64)").as("r"))
      .select(col("w.start").as("h"), col("r.ndv_est").as("ndv"),
        array_join(col("r.sample"), " ").as("smp"))
      .orderBy("h")
      .collect().map(r => (r.getTimestamp(0), r.getDouble(1), r.getString(2))).toSeq
    assert(got.size == 6 && got == want,
      s"windowed streaming sketch must equal batch: ${got.size} windows")
  }

  test("incremental store maintenance: KMV(sample(A) UNION B) == KMV(A UNION B) exactly") {
    import spark.implicits._
    // bottom-k mergeability: re-feeding the retained sample together with
    // the next batch's raw keys equals the full recomputation — the
    // q_ndv_incremental sketch-warehouse invariant, pinned sketch-exact
    val a = (0 until 3000).map(i => s"key_${i % 400}").toDF("k")
    val b = (0 until 2000).map(i => s"key_${200 + (i % 500)}").toDF("k")
    val storeSample = a.agg(expr("kmv_ndv(k, 16)").as("r"))
      .select(explode(col("r.sample")).as("k"))
    val incr = storeSample.unionByName(b)
      .agg(expr("kmv_ndv(k, 16)").as("r"))
      .select(col("r.ndv_est"), col("r.sample"))
      .collect().map(r => (r.getDouble(0), r.getSeq[String](1))).head
    val full = a.unionByName(b)
      .agg(expr("kmv_ndv(k, 16)").as("r"))
      .select(col("r.ndv_est"), col("r.sample"))
      .collect().map(r => (r.getDouble(0), r.getSeq[String](1))).head
    assert(incr == full, s"incremental $incr != full $full")
  }

  test("fuzz: 150 random streams — split/merge-order == one-shot, and the re-feed invariant") {
    // unit-level fuzz of BOTH mergeability claims (r13 task 7):
    //  1. any split of a stream into partial sketches, merged in any
    //     order, equals the one-shot sketch's exact (hash -> key) content;
    //  2. the q_ndv_incremental warehouse invariant — re-feeding batch A's
    //     RETAINED SAMPLE with batch B's raw keys equals sketching
    //     A UNION B from scratch — including eviction mode (k < distinct)
    import graft.plans.KmvSketch
    import org.apache.spark.unsafe.types.UTF8String
    val rnd = new java.util.Random(20260815L)
    def entries(s: KmvSketch): Seq[(Long, String)] = {
      val b = Seq.newBuilder[(Long, String)]
      val it = s.m.entrySet().iterator()
      while (it.hasNext) { val e = it.next(); b += ((e.getKey.longValue(), e.getValue.toString)) }
      b.result()
    }
    for (case_ <- 0 until 150) {
      val k = 2 + rnd.nextInt(31) // 2..32
      val nKeys = 2 + rnd.nextInt(200)
      val mk = () => Seq.fill(20 + rnd.nextInt(800))(s"key_${rnd.nextInt(nKeys)}")
      val a = mk()
      val b = mk()
      // 1. split/merge-order independence over the concatenated stream
      val stream = a ++ b
      val oneShot = new KmvSketch(k)
      stream.foreach(s => oneShot.add(UTF8String.fromString(s)))
      val nParts = 1 + rnd.nextInt(6)
      val parts = Array.fill(nParts)(new KmvSketch(k))
      stream.foreach(s => parts(rnd.nextInt(nParts)).add(UTF8String.fromString(s)))
      val order = scala.util.Random.javaRandomToRandom(rnd).shuffle(parts.toList)
      val merged = order.reduceLeft { (x, y) => x.merge(y); x }
      assert(entries(merged) == entries(oneShot),
        s"case $case_ (k=$k parts=$nParts): merged content != one-shot")
      assert(merged.estimate == oneShot.estimate)
      // 2. incremental re-feed == full recomputation, randomized feed order
      val skA = new KmvSketch(k)
      a.foreach(s => skA.add(UTF8String.fromString(s)))
      val refeed = scala.util.Random.javaRandomToRandom(rnd)
        .shuffle(entries(skA).map(_._2) ++ b)
      val incr = new KmvSketch(k)
      refeed.foreach(s => incr.add(UTF8String.fromString(s)))
      assert(entries(incr) == entries(oneShot),
        s"case $case_ (k=$k): re-fed sample+batch != full recomputation")
      assert(incr.estimate == oneShot.estimate)
    }
  }

  test("k=256 estimate lands within 20% of a 5000-key truth") {
    import spark.implicits._
    val df = (0 until 5000).flatMap(i => Seq.fill(3)(s"key_$i")).toDF("k").repartition(8)
    val (est, sample) = sketch(df, 256)
    assert(sample.length == 256)
    assert(math.abs(est - 5000.0) / 5000.0 < 0.20,
      s"KMV estimate $est too far from 5000 (std err ~1/sqrt(k-2) ≈ 6%)")
  }

  test("kmvOverlap: sketch set algebra lands near known union/Jaccard; exact below k") {
    import spark.implicits._
    // A = w0..w2999, B = w2000..w4999 -> union 5000, intersection 1000,
    // Jaccard 0.2
    val rows = (0 until 3000).map(i => ("A", s"w$i")) ++
      (2000 until 5000).map(i => ("B", s"w$i"))
    val df = rows.toDF("source", "word")
    val got = graft.operators.Stats.kmvOverlap(df, "source", k = 256)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).head
    assert(got._1 == "A" && got._2 == "B")
    assert(math.abs(got._3 - 5000.0) / 5000.0 < 0.15, s"union est ${got._3} vs 5000")
    assert(math.abs(got._4 - 0.2) < 0.08, s"jaccard est ${got._4} vs 0.2")
    assert(math.abs(got._5 - 1000.0) / 1000.0 < 0.35, s"intersection est ${got._5} vs 1000")
    // below k on both sides: everything exact
    val small = ((0 until 30).map(i => ("A", s"x$i")) ++ (20 until 50).map(i => ("B", s"x$i")))
      .toDF("source", "word")
    val ex = graft.operators.Stats.kmvOverlap(small, "source", k = 256)
      .collect().map(r => (r.getDouble(2), r.getDouble(3), r.getDouble(4))).head
    assert(ex._1 == 50.0 && ex._2 == 0.2 && ex._3 == 10.0, s"exact mode: $ex")
  }

  test("bloomPlan: below-k exact NDV drives the textbook geometry; fpp lands near target") {
    import spark.implicits._
    val ev = (1 to 10).map(u => ("click", s"u$u")).toDF("event_type", "k")
    val got = graft.operators.Layout.bloomPlan(ev, "event_type", "k",
      k = 64, targetFpp = 0.01).collect().head
    val c = -math.log(0.01) / (math.log(2.0) * math.log(2.0))
    val m = math.ceil(10.0 * c).toLong
    val kh = math.max(1L, math.ceil(m.toDouble / 10.0 * math.log(2.0)).toLong)
    val fpp = math.floor(math.pow(
      1.0 - math.exp(-(kh.toDouble * 10.0) / m.toDouble), kh.toDouble) * 1e6 + 0.5) / 1e6
    assert((got.getString(0), got.getDouble(1), got.getLong(2), got.getLong(3),
      got.getDouble(4)) == (("click", 10.0, m, kh, fpp)), s"$got vs ($m,$kh,$fpp)")
    assert(got.getDouble(4) > 0.005 && got.getDouble(4) < 0.0105,
      s"fpp off target: $got")
  }
}
