package graft

import org.apache.spark.sql.functions._

import graft.plans.CmsSketch
import org.apache.spark.unsafe.types.UTF8String

/** [[graft.plans.CountMinAgg]] (`cms_counts`): overcount-only estimates,
  * CMS error bound in practice, order-independence under repartitioning,
  * decomposed-merge identity, and batch==streaming.
  */
class CmsSpec extends SparkSpec {

  private val D = 4
  private val W = 256

  private def matrix(df: org.apache.spark.sql.DataFrame): Seq[Long] = df
    .agg(expr(s"cms_counts(k, $D, $W)").as("m"))
    .collect().head.getSeq[Long](0)

  private def probe(m: Seq[Long], key: String): Long =
    (0 until D).map(d => m(d * W + CmsSketch.bucket(d, UTF8String.fromString(key), W))).min

  /** Zipf-ish deterministic stream: key_j occurs ~N/(j+1) times. */
  private def zipf(n: Int, keys: Int): Seq[String] =
    (0 until n).map(i => s"key_${i % ((i % keys) + 1)}")

  test("estimate is NEVER an undercount, for every key in the stream and absent keys stay small") {
    import spark.implicits._
    val data = zipf(20000, 120)
    val m = matrix(data.toDF("k"))
    val exact = data.groupBy(identity).view.mapValues(_.size.toLong).toMap
    exact.foreach { case (k, x) =>
      assert(probe(m, k) >= x, s"CMS undercounted $k: ${probe(m, k)} < $x")
    }
    // total mass invariant: every row of the matrix sums to N
    (0 until D).foreach { d =>
      assert(m.slice(d * W, (d + 1) * W).sum == 20000L, s"row $d mass")
    }
  }

  test("fuzz: 150 random streams, splits and merge orders == one-shot sketch exactly") {
    // unit-level (no Spark), the SpaceSavingSpec discipline: element-wise
    // counter addition is the merge rule, so ANY split of the stream into
    // partial sketches merged in ANY order must reproduce the one-shot
    // matrix bit-for-bit — and every in-stream key must still probe >= its
    // true count
    val rnd = new java.util.Random(20260814L)
    for (case_ <- 0 until 150) {
      val depth   = 2 + rnd.nextInt(4)            // 2..5
      val width   = 16 << rnd.nextInt(4)          // 16..128
      val nKeys   = 2 + rnd.nextInt(300)
      val nEvents = 20 + rnd.nextInt(3000)
      val stream = Seq.fill(nEvents) {
        var i = 0
        while (i < nKeys - 1 && rnd.nextDouble() > 0.35) i += 1
        s"k$i"
      }
      val oneShot = new CmsSketch(depth, width)
      stream.foreach(s => oneShot.add(UTF8String.fromString(s)))
      val nParts = 1 + rnd.nextInt(6)
      val parts = Array.fill(nParts)(new CmsSketch(depth, width))
      stream.foreach(s => parts(rnd.nextInt(nParts)).add(UTF8String.fromString(s)))
      val order = scala.util.Random.javaRandomToRandom(rnd).shuffle(parts.toList)
      val merged = order.reduceLeft { (a, b) => a.merge(b); a }
      assert(merged.counters.toSeq == oneShot.counters.toSeq,
        s"case $case_ (d=$depth w=$width parts=$nParts): merged matrix != one-shot")
      val truth = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
      truth.foreach { case (k, t) =>
        val est = (0 until depth)
          .map(d => merged.counters(d * width + CmsSketch.bucket(d, UTF8String.fromString(k), width)))
          .min
        assert(est >= t, s"case $case_: $k undercounted ($est < $t)")
      }
      // total mass invariant per row survives the merge
      (0 until depth).foreach { d =>
        assert(merged.counters.slice(d * width, (d + 1) * width).sum == nEvents.toLong,
          s"case $case_: row $d mass")
      }
    }
  }

  test("observed error respects the CMS bound: overcount <= e/W * N for >=95% of keys") {
    import spark.implicits._
    val n = 20000
    val data = zipf(n, 120)
    val m = matrix(data.toDF("k"))
    val exact = data.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val bound = math.ceil(math.E / W * n).toLong
    val within = exact.count { case (k, x) => probe(m, k) - x <= bound }
    assert(within >= (exact.size * 95) / 100,
      s"only $within/${exact.size} keys within the e/W*N=$bound bound")
  }

  test("the matrix is deterministic under any partitioning / arrival order") {
    import spark.implicits._
    val base = zipf(8000, 90)
    val a = matrix(base.toDF("k").repartition(1))
    val b = matrix(base.toDF("k").repartition(8))
    val c = matrix(scala.util.Random.javaRandomToRandom(new java.util.Random(11))
      .shuffle(base).toDF("k").repartition(3))
    assert(a == b && b == c, "element-wise-add merge must be order-independent")
  }

  test("merge identity: sketch(A union B) == sketch(A) + sketch(B) element-wise") {
    import spark.implicits._
    val a = zipf(5000, 70)
    val b = (0 until 3000).map(i => s"other_${i % 40}")
    val whole = matrix((a ++ b).toDF("k"))
    val parts = matrix(a.toDF("k")).zip(matrix(b.toDF("k"))).map { case (x, y) => x + y }
    assert(whole == parts.toSeq, "decomposed build must equal the one-shot build")
  }

  test("foldable non-literal shape params work; non-foldable params fail AT ANALYSIS") {
    import spark.implicits._
    // checkInputDataTypes accepts any foldable INT, so `2+2` must resolve
    // (constant-evaluated), not pass analysis and then throw per-task —
    // same contract for all three sketch aggregates
    val df = Seq("a", "b", "a").toDF("k")
    assert(df.agg(expr(s"cms_counts(k, 2 + 2, 128 * 2)"))
      .collect().head.getSeq[Long](0).length == 4 * 256)
    assert(df.agg(expr("spacesaving_topk(k, 16 * 2)")).collect().head.getSeq[Any](0).nonEmpty)
    assert(df.agg(expr("kmv_ndv(k, 8 + 8)")).collect().length == 1)
    // a non-constant width is rejected when the plan is built, not at runtime
    val err = intercept[Exception] {
      Seq(("a", 4)).toDF("k", "w").agg(expr("cms_counts(k, 4, w)")).collect()
    }
    assert(err.getMessage.contains("foldable") || err.getMessage.toLowerCase.contains("cms_counts"),
      s"analysis-time rejection expected, got: ${err.getMessage}")
  }

  test("cmsJoinSize: overcount-only estimate, exact on a collision-free key space") {
    import spark.implicits._
    // skewed multiplicities on both sides: join size = sum n_l(k)*n_r(k)
    val left  = (0 until 5000).map(i => s"u${i % 300}").toDF("k")
    val right = (0 until 2000).map(i => s"u${100 + (i % 400)}").toDF("k")
    val r = graft.operators.Stats.cmsJoinSize(left, right, "k").head()
    val (nTrue, est) = (r.getLong(2), r.getLong(3))
    val exact = left.groupBy("k").count().withColumnRenamed("count", "ca")
      .join(right.groupBy("k").count().withColumnRenamed("count", "cb"), "k")
      .agg(sum(col("ca") * col("cb"))).head().getLong(0)
    assert(nTrue == exact, s"audit truth $nTrue != recomputed $exact")
    assert(est >= nTrue, s"CMS inner product must never undercount: $est < $nTrue")
    // CMS expected slack: e/W * N_l * N_r added mass per row; with 4 rows
    // the min is comfortably inside 3x of that bound on this key space
    val slack = math.E / 512.0 * 5000.0 * 2000.0
    assert(est - nTrue <= 3 * slack, s"overcount ${est - nTrue} beyond 3x CMS slack $slack")
    // a SINGLE-key stream cannot collide with anything: estimate exact
    val one  = Seq.fill(700)("only").toDF("k")
    val one2 = Seq.fill(300)("only").toDF("k")
    val rr = graft.operators.Stats.cmsJoinSize(one, one2, "k").head()
    assert(rr.getLong(2) == 210000L && rr.getLong(3) == 210000L,
      s"single-key join must estimate exactly: $rr")
  }

  test("WINDOWED cms_counts under a watermark == batch per-window matrices") {
    import spark.implicits._
    // per-hour frequency sketches: the matrix composes with event-time
    // windows + watermark like any built-in aggregate, with depth·width
    // longs of state per open window instead of the key set
    val dir = java.nio.file.Files.createTempDirectory("graft-cms-win")
    val rows = (0 until 3000).map { i =>
      (java.sql.Timestamp.valueOf(f"2024-05-01 ${i % 4}%02d:${(i * 11) % 60}%02d:00"),
        s"key_${i % ((i % 50) + 1)}")
    }
    rows.toDF("ts", "k").coalesce(2).write.mode("overwrite").parquet(dir.toString)
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.StringType))))
      .parquet(dir.toString)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(expr(s"cms_counts(k, $D, $W)").as("m"))
      .select(col("w.start").as("h"), col("m"))
    val q = stream.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete())
      .format("memory").queryName("cms_win").start()
    try q.processAllAvailable()
    finally q.stop()
    val got = spark.table("cms_win").orderBy("h")
      .collect().map(r => (r.getTimestamp(0), r.getSeq[Long](1))).toSeq
    val want = spark.read.parquet(dir.toString)
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(expr(s"cms_counts(k, $D, $W)").as("m"))
      .select(col("w.start").as("h"), col("m"))
      .orderBy("h")
      .collect().map(r => (r.getTimestamp(0), r.getSeq[Long](1))).toSeq
    assert(got.map(_._1) == want.map(_._1) && got.map(_._2) == want.map(_._2),
      "per-window streaming matrices must equal the batch matrices exactly")
    assert(got.length == 4, s"four hour windows, got ${got.length}")
  }

  test("cms_counts runs UNCHANGED in Structured Streaming (Complete mode) == batch") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-cms-stream")
    zipf(6000, 80).toDF("k").coalesce(2).write.mode("overwrite").parquet(dir.toString)
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.StringType))))
      .parquet(dir.toString)
      .agg(expr(s"cms_counts(k, $D, $W)").as("m"))
    val q = stream.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete())
      .format("memory").queryName("cms_stream").start()
    try q.processAllAvailable()
    finally q.stop()
    val got = spark.table("cms_stream").collect().head.getSeq[Long](0)
    val want = matrix(spark.read.parquet(dir.toString).toDF("k"))
    assert(got == want, "streaming sketch must equal the batch sketch exactly")
  }
}
