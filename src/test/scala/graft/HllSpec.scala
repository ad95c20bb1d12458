package graft

import org.apache.spark.sql.functions._

import graft.plans.{HllSketch, KmvSketch}

/** HyperLogLog sketch (hll_ndv): exact replay vs an in-memory register
  * mirror, partitioning/merge-order invariance, the linear-counting
  * branch, accuracy envelope at p = 10, and the 2^61 harmonic-sum bound.
  */
class HllSpec extends SparkSpec {
  import spark.implicits._

  /** In-memory mirror of the whole sketch from raw keys. */
  private def mirror(keys: Seq[String], p: Int): (Double, Int) = {
    val sk = new HllSketch(p)
    keys.foreach(k => sk.add(org.apache.spark.unsafe.types.UTF8String.fromString(k)))
    sk.estimate
  }

  private def runHll(keys: Seq[String], p: Int, parts: Int): (Double, Int) = {
    val row = keys.toDF("k").repartition(parts)
      .agg(expr(s"hll_ndv(k, $p)").as("r"))
      .select(col("r.ndv_est"), col("r.n_zero_regs"))
      .collect().head
    (row.getDouble(0), row.getInt(1))
  }

  test("hll_ndv == the in-memory register mirror, under any partitioning") {
    val rnd = new scala.util.Random(7L)
    val keys = (0 until 5000).map(_ => s"k${rnd.nextInt(1200)}")
    val want = mirror(keys, 10)
    for (parts <- Seq(1, 7, 32)) {
      assert(runHll(keys, 10, parts) == want,
        s"parts=$parts must replay the mirror exactly (element-wise-max merge is order-free)")
    }
  }

  test("accuracy envelope at p=10 (~3.3% rse): within 10% of truth at 4 scales") {
    val rnd = new scala.util.Random(11L)
    for (n <- Seq(500, 3000, 20000, 80000)) {
      val keys = (0 until n).map(i => s"u$i") ++ (0 until n / 2).map(_ => s"u${rnd.nextInt(n)}")
      val (est, _) = runHll(keys, 10, 8)
      assert(math.abs(est - n) / n.toDouble < 0.10, s"n=$n est=$est")
    }
  }

  test("linear-counting branch: sparse stream reads m*ln(m/V) exactly") {
    val keys = (0 until 10).map(i => s"only$i")
    val (est, zeros) = runHll(keys, 10, 4)
    // 10 distinct keys can collide into >= 1 registers; V = 1024 - occupied
    assert(zeros >= 1014 && zeros <= 1023, s"zeros=$zeros")
    val want = math.floor(1024.0 * math.log(1024.0 / zeros) * 1e4 + 0.5) / 1e4
    assert(est == want, s"est=$est want=$want")
    assert(math.abs(est - 10.0) < 1.0, s"sparse estimate should be ~exact: $est")
  }

  test("harmonic-sum bound: the all-zero and max-rank registers stay inside a long") {
    // p=4 (m=16, w=56): force the saturating rank w+1 via a key whose
    // 56-bit rest is all zeros — sum still exact in 64 bits
    val sk = new HllSketch(4)
    assert(sk.w + 1 == 57)
    // empty sketch: sum = 16 * 2^57 = 2^61 — the documented ceiling
    val (estEmpty, zerosEmpty) = sk.estimate
    assert(zerosEmpty == 16 && estEmpty == 0.0,
      s"empty sketch must read 0 via linear counting: ($estEmpty, $zerosEmpty)")
  }

  test("hll_ndv runs UNCHANGED as a streaming stateful aggregation; streaming == batch") {
    // registers merge element-wise-max, so incremental micro-batch state
    // composes exactly like the batch partial-merge — same expression
    // tree, Complete-mode memory sink, equality to the last bit
    val dir = java.nio.file.Files.createTempDirectory("graft-hll-stream")
    (0 until 3000).map(i => s"key_${i % 700}").toDF("k")
      .coalesce(2).write.mode("overwrite").parquet(dir.toString)
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.StringType))))
      .parquet(dir.toString)
      .agg(expr("hll_ndv(k, 10)").as("r"))
      .select(col("r.ndv_est"), col("r.n_zero_regs"))
    val q = stream.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete())
      .format("memory").queryName("hll_stream").start()
    try q.processAllAvailable()
    finally q.stop()
    val got = spark.table("hll_stream")
      .collect().map(r => (r.getDouble(0), r.getInt(1))).head
    val want = runHll((0 until 3000).map(i => s"key_${i % 700}"), 10, 4)
    assert(got == want, s"streaming sketch $got != batch sketch $want")
  }

  test("WINDOWED GROUPED hll_ndv under a watermark == batch per-window registers") {
    // the grouped form (q_hll_per_source) composed with event-time
    // windows: per-(window, group) register state is a constant 1 KiB,
    // merged element-wise-max across micro-batches — the KmvSpec windowed
    // pattern with registers instead of bottom-k
    val dir = java.nio.file.Files.createTempDirectory("graft-hll-win")
    val rows = (0 until 4000).map { i =>
      (java.sql.Timestamp.valueOf(f"2024-05-01 ${i % 6}%02d:${(i * 7) % 60}%02d:00"),
        s"src${(i / 6) % 3}", s"user_${(i * 13) % 900}")
    }
    rows.toDF("ts", "src", "u").coalesce(2).write.mode("overwrite").parquet(dir.toString)
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("src", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("u", org.apache.spark.sql.types.StringType))))
      .parquet(dir.toString)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("src"))
      .agg(expr("hll_ndv(u, 10)").as("r"))
      .select(col("w.start").as("h"), col("src"),
        col("r.ndv_est").as("ndv"), col("r.n_zero_regs").as("z"))
    val q = stream.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete())
      .format("memory").queryName("hll_win").start()
    try q.processAllAvailable()
    finally q.stop()
    def canon(df: org.apache.spark.sql.DataFrame) = df.orderBy("h", "src")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getDouble(2), r.getInt(3))).toSeq
    val got = canon(spark.table("hll_win"))
    val want = canon(spark.read.parquet(dir.toString)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("src"))
      .agg(expr("hll_ndv(u, 10)").as("r"))
      .select(col("w.start").as("h"), col("src"),
        col("r.ndv_est").as("ndv"), col("r.n_zero_regs").as("z")))
    assert(got.size == 18 && got == want,
      s"windowed grouped streaming sketch must equal batch: ${got.size} rows")
  }

  test("hash60 agrees with the SQL construction on sample keys") {
    // the oracle replays idx/rank off ('0x' || substr(md5(k),1,15))::BIGINT
    val d = java.security.MessageDigest.getInstance("MD5")
    for (k <- Seq("u1", "u42", "hello world")) {
      val hex = d.digest(k.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15)
      val want = java.lang.Long.parseLong(hex, 16)
      assert(KmvSketch.hash60(
        org.apache.spark.unsafe.types.UTF8String.fromString(k)) == want, k)
    }
  }
}
