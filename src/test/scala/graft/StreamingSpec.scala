package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.sources.EventsSource
import graft.streaming.EventStream

/** Streaming twins must agree with their batch equivalents on a static
  * input: the strongest local check streaming semantics allow.
  */
class StreamingSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** The streaming parquet source wants a directory of files. */
  private lazy val streamDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-stream")
    java.nio.file.Files.createSymbolicLink(
      d.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    d.toString
  }

  test("streaming hourly window agg matches batch result") {
    // streaming side (Complete mode so all windows surface on a static dir)
    val stream = EventStream.readEvents(spark, streamDir)
    EventStream.runToMemory(EventStream.hourlyByType(stream), "hourly", OutputMode.Complete())
    val got = spark.table("hourly").orderBy("hour_bucket", "event_type").collect()

    // batch side
    val want = EventsSource
      .events(spark, dir)
      .groupBy(date_format(col("ts_t"), "yyyy-MM-dd HH").as("hour_bucket"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .orderBy("hour_bucket", "event_type")
      .collect()

    assert(got.length == want.length && got.length > 0)
    got.zip(want).foreach { case (g, w) => assert(g == w) }
  }

  test("native session_window works in streaming and matches the batch operator") {
    val stream = EventStream.readEvents(spark, streamDir)
      .withWatermark("ts_t", "2 hours")
      .groupBy(col("user_id"), session_window(col("ts_t"), "30 minutes"))
      .agg(count(lit(1)).as("sess_events"))
      .select(col("user_id"), col("session_window.start").as("sess_start"), col("sess_events"))
    EventStream.runToMemory(stream, "sess_win", OutputMode.Complete())
    val got = spark.table("sess_win").orderBy("user_id", "sess_start").collect()
    val want = EventsSource.events(spark, dir)
      .groupBy(col("user_id"), session_window(col("ts_t"), "30 minutes"))
      .agg(count(lit(1)).as("sess_events"))
      .select(col("user_id"), col("session_window.start").as("sess_start"), col("sess_events"))
      .orderBy("user_id", "sess_start")
      .collect()
    assert(got.length == want.length && got.length > 0)
    got.zip(want).foreach { case (g, w) => assert(g == w) }
  }

  test("stream-stream purchase attribution matches the batch join") {
    val stream = EventStream.readEvents(spark, streamDir)
    EventStream.runToMemory(
      EventStream.purchaseAttribution(stream, stream), "attrib", OutputMode.Append())
    val got = spark.table("attrib").orderBy("purchase_id", "click_id").collect()
    val ev = EventsSource.events(spark, dir)
    val want = EventStream.purchaseAttribution(ev, ev).orderBy("purchase_id", "click_id").collect()
    assert(got.length == want.length && got.length > 0,
      s"streaming ${got.length} rows vs batch ${want.length}")
    got.zip(want).foreach { case (g, w) => assert(g == w) }
  }

  test("streaming decayed counts rescale to the batch decayed-counts query") {
    val hl = 86400000000L
    val stream = EventStream.readEvents(spark, streamDir)
    EventStream.runToMemory(
      EventStream.decayedCounts(spark, stream, hl).toDF(), "decayed", OutputMode.Update())
    val rows = spark.table("decayed")
      .select(col("eventType"), col("n"), col("decayedAtLast"), col("lastTsUs"))
      .collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getDouble(2), r.getLong(3))))
      .toMap
    // the batch query references the GLOBAL max event time; each key's
    // state holds the sum decayed to its OWN last event — rescale forward
    val tMax = rows.values.map(_._3).max
    val got = rows.map { case (k, (n, sum, last)) =>
      val rescaled = sum * math.pow(2.0, -((tMax - last).toDouble / hl))
      (k, (n, math.floor(rescaled * 1e4 + 0.5) / 1e4))
    }
    val want = SparkEntry.lookup("q_decayed_counts").head.build(spark, dir)
      .collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getDouble(2))))
      .toMap
    assert(got.nonEmpty)
    assert(got == want, s"streaming-rescaled $got != batch $want")
  }

  test("stateful session counts match batch sessionization") {
    val stream = EventStream.readEvents(spark, streamDir)
    EventStream.runToMemory(
      EventStream.sessionCounts(spark, stream).toDF(), "sessions", OutputMode.Update())
    val got = spark
      .table("sessions")
      .select(col("userId"), col("nSessions"))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap

    val want = SparkEntry
      .lookup("q_sessions").head.build(spark, dir)
      .select(col("user_id"), col("n_sessions"))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap

    assert(got.nonEmpty)
    assert(got == want)
  }
}
