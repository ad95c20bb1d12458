package ixbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FilterExec, GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.{Engine, GraftExtensions}
import graft.operators.{InvertedIndex, Search, Tokenize}
import graft.sources.LetterSink

/** Records when the first SparkContext of this JVM came up: registered
  * through `-Dspark.extraListeners`, so it sees the CLI job's own context.
  * In a [[Setup]] JVM it prints that time and halts the JVM right there.
  */
class SetupProbe extends SparkListener {
  override def onApplicationStart(e: SparkListenerApplicationStart): Unit = {
    SetupProbe.readyMs.compareAndSet(0L, e.time)
    if (SetupProbe.haltOnReady) {
      println(e.time)
      System.out.flush()
      Runtime.getRuntime.halt(0)
    }
  }
}

object SetupProbe {
  val readyMs = new java.util.concurrent.atomic.AtomicLong(0L)
  @volatile var haltOnReady = false
}

/** Prints the JVM options Spark's launcher adds to every JVM it starts
  * (module opens for JDK 17 and the like); `run.py` starts the harness with
  * them.
  */
object JvmOptions {
  def main(args: Array[String]): Unit =
    println(org.apache.spark.launcher.JavaModuleOptions.defaultModuleOptions())
}

/** One cold set-up: starts a Spark session configured as `graft.Main`
  * configures its own (`local[k]`, k shuffle partitions); [[SetupProbe]]
  * prints the moment its context came up and halts the JVM, whose scratch
  * files live in the run directory that the next run clears.
  *
  * Usage: `ixbench.Setup <k>`.
  */
object Setup {
  def main(args: Array[String]): Unit = {
    val k = args(0).toInt
    SetupProbe.haltOnReady = true
    SparkSession.builder()
      .master(s"local[$k]")
      .appName("ixbench-setup")
      .config("spark.sql.shuffle.partitions", k)
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    Thread.sleep(30000) // the listener bus delivers the event and halts
    sys.exit(1)
  }
}

/** JVM side of the benchmark: one Spark session, a closed loop with a single
  * client, driving the engine only through its public entry points
  * (`Engine.buildIndex`, `Engine.indexFromManifest`,
  * `Search.andQueryFromIndex`/`orQueryFromIndex`, `LetterSink.mergeExact`).
  *
  * Usage: `ixbench.Harness key=value ...` with keys `plan`, `out`, `work`,
  * `cli_out`, `k`, `seconds`, `warmup`, `trace`. `run.py` writes the plan,
  * launches this class and checks every result it records.
  *
  * The JVM first runs the paper's job cold, by calling `graft.Main.main`
  * with `k k <corpus> <cli_out>` before anything else; its end time gives
  * the cold CLI wall time, and [[SetupProbe]] gives the moment its Spark
  * context came up. Only then does the harness open its own session.
  *
  * The plan is a tab-separated file:
  * {{{
  *   corpus  <manifest>                 base corpus of build ops
  *   index   <dir>                      snapshot queries and merges start from
  *   delta   <i> <manifest> <id offset> delta batch i of merge ops
  *   probe   <id> <and|or> <terms>      queries a traced run adds when its ops have none
  *   op      build | query <id> <and|or> <terms> | merge <i>
  * }}}
  * Ops run in plan order, cyclically: `warmup` ops first, then a timed window
  * of `seconds`. Each op is recorded in `out` with its latency and a digest
  * of its output (the 26 letter files, or the query rows), which `run.py`
  * compares with its own model of the reference algorithm. Nothing inside a
  * timed window forces a GC.
  *
  * With `trace=1` every second op of the window is traced (spans, a
  * SparkListener keyed by job description, plan-phase timings and
  * scan/filter/generate row counts per query); the untraced ops between
  * them give the tracing overhead. Then cumulative prefixes of the build and
  * merge pipelines run through the `noop` sink, and their differences give
  * each layer's self time. Spans go to `work/spans.jsonl`.
  */
object Harness extends AdaptiveSparkPlanHelper {

  sealed trait Op { def name: String }
  case object Build extends Op { val name = "build" }
  final case class Query(id: Int, kind: String, terms: Seq[String]) extends Op { val name = "query" }
  final case class Merge(delta: Int) extends Op { val name = "merge" }
  final case class Delta(manifest: String, offset: Long)

  final class Plan(lines: Seq[Array[String]]) {
    private def one(tag: String): Option[String] = lines.collectFirst { case a if a(0) == tag => a(1) }
    private def query(a: Array[String]): Query = Query(a(1).toInt, a(2), a(3).split(' ').toSeq)
    val corpus: String = one("corpus").getOrElse(sys.error("plan has no corpus"))
    val index: Option[String] = one("index")
    val deltas: Map[Int, Delta] =
      lines.collect { case a if a(0) == "delta" => a(1).toInt -> Delta(a(2), a(3).toLong) }.toMap
    val probes: Seq[Query] = lines.collect { case a if a(0) == "probe" => query(a) }
    val ops: IndexedSeq[Op] = lines.collect {
      case a if a(0) == "op" && a(1) == "build" => Build
      case a if a(0) == "op" && a(1) == "query" => query(a.drop(1))
      case a if a(0) == "op" && a(1) == "merge" => Merge(a(2).toInt)
    }.toIndexedSeq
  }

  /** One executed op as `run.py` reads it back; `snap` is the snapshot a
    * query read or a write produced: -1 the base index, -2 a build's output,
    * i the merge of delta i. `endMs` is when the op and its check ended, on
    * the clock of the `window.start_ms` meta.
    */
  final case class Rec(seq: Int, phase: String, op: Op, snap: Int, ms: Double, digest: String, rows: Long,
      endMs: Double)

  final case class Span(name: String, start: Long, end: Long, parent: String, opId: String)

  private val spans = ArrayBuffer[Span]()
  @volatile private var tracing = false
  private def span[T](name: String, parent: String, opId: String)(body: => T): T =
    if (!tracing) body
    else {
      val t0 = System.nanoTime()
      try body finally spans += Span(name, t0, System.nanoTime(), parent, opId)
    }

  private def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString

  /** Same digest as corpus.letters_digest: per letter `c:len:` then the bytes. */
  def lettersDigest(dir: String): (String, Long) = {
    val md = MessageDigest.getInstance("SHA-256")
    var bytes = 0L
    ('a' to 'z').foreach { c =>
      val b = Files.readAllBytes(Paths.get(dir, s"$c.txt"))
      md.update(s"$c:${b.length}:".getBytes(UTF_8))
      md.update(b)
      bytes += b.length
    }
    (hex(md.digest()), bytes)
  }

  private def rowsDigest(kind: String, rows: Array[org.apache.spark.sql.Row]): String = {
    val parts =
      if (kind == "and") rows.map(r => r.getLong(0).toString)
      else rows.map(r => s"${r.getLong(0)}:${r.getLong(1)}")
    hex(MessageDigest.getInstance("SHA-256").digest(parts.mkString(" ").getBytes(UTF_8)))
  }

  /** The reference tokenizer, for the first letters a query prunes to. */
  private def cleaned(t: String): String =
    new String(t.getBytes(UTF_8).map(b => if (b >= 'A' && b <= 'Z') (b + 32).toByte else b)
      .filter(b => b >= 'a' && b <= 'z'), UTF_8)

  /** Per-job-description totals of the stages and tasks Spark ran. */
  final class OpListener extends SparkListener {
    final class Tot {
      var jobs, stages, tasks, failed = 0L
      var runMs, cpuMs, delayMs, shuffleWrite, spill = 0L
    }
    val byDesc = new ConcurrentHashMap[String, Tot]()
    private val stageDesc = new ConcurrentHashMap[Int, String]()
    @volatile var started, ended = 0L
    private def tot(d: String): Tot = byDesc.computeIfAbsent(d, _ => new Tot)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val d = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("-")
      e.stageIds.foreach(s => stageDesc.put(s, d))
      tot(d).jobs += 1
      started += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { ended += 1 }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      tot(stageDesc.getOrDefault(e.stageInfo.stageId, "-")).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val t = tot(stageDesc.getOrDefault(e.stageId, "-"))
      t.tasks += 1
      if (e.reason != Success) t.failed += 1
      val m = e.taskMetrics
      if (m != null) {
        t.runMs += m.executorRunTime
        t.cpuMs += m.executorCpuTime / 1000000
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        val dur = e.taskInfo.finishTime - e.taskInfo.launchTime
        t.delayMs += math.max(0L, dur - m.executorRunTime - m.executorDeserializeTime - m.resultSerializationTime)
      }
    }
    def drain(): Unit = {
      val deadline = System.nanoTime() + 10000000000L
      while ((started != ended) && System.nanoTime() < deadline) Thread.sleep(20)
      Thread.sleep(100)
    }
  }

  /** Query-level observations of one traced query. */
  final case class QueryObs(dfBuildMs: Double, analysisMs: Double, optimizeMs: Double, physicalMs: Double,
      files: Long, rowsRead: Long, rowsKept: Long, exploded: Long, result: Long, scanS: Double)

  def main(args: Array[String]): Unit = {
    val conf = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val out = new java.io.PrintWriter(Files.newBufferedWriter(Paths.get(conf("out")), UTF_8))
    def meta(k: String, v: Any): Unit = { out.println(s"meta\t$k\t$v"); out.flush() }
    val work = conf("work")
    val k = conf("k").toInt
    val rt = ManagementFactory.getRuntimeMXBean
    meta("jvm_start_epoch_ms", rt.getStartTime)

    val plan = new Plan(scala.io.Source.fromFile(conf("plan"), "UTF-8").getLines()
      .filter(_.nonEmpty).map(_.split('\t')).toSeq)

    // the cold CLI job first, in this fresh JVM, exactly as graft.Main runs it
    graft.Main.main(Array(k.toString, k.toString, plan.corpus, conf("cli_out")))
    meta("cli_end_epoch_ms", System.currentTimeMillis())
    meta("context_ready_epoch_ms", SetupProbe.readyMs.get)

    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .master(s"local[$k]")
      .appName("ixbench")
      .config("spark.sql.shuffle.partitions", k)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    meta("spark_version", spark.version)

    val seconds = conf("seconds").toDouble
    val warmup = conf("warmup").toInt
    val trace = conf.get("trace").contains("1")
    val corpusBase = Paths.get(plan.corpus).toAbsolutePath.getParent.toString
    val snapDirs = Seq(s"$work/snap0", s"$work/snap1")
    val buildDir = s"$work/build"
    // queries read the newest snapshot (see Rec)
    var snapDir = plan.index.getOrElse(buildDir)
    var snap = if (plan.index.isDefined) -1 else -2
    var merges = 0
    val recs = ArrayBuffer[Rec]()
    var seq = 0
    val listener = new OpListener
    val queryObs = ArrayBuffer[QueryObs]()
    val t00 = System.nanoTime() // origin of the span file's times

    def deltaFrame(i: Int): DataFrame = {
      val d = plan.deltas(i)
      Engine.indexFromManifest(spark, d.manifest, Paths.get(d.manifest).toAbsolutePath.getParent.toString)
        .select(col("word"), transform(col("doc_ids"), x => x + lit(d.offset)).as("doc_ids"))
    }

    var lastQuery: DataFrame = null
    var lastDfBuildMs = 0.0
    def query(q: Query, opId: String): Array[org.apache.spark.sql.Row] = {
      val t0 = System.nanoTime()
      lastQuery = span("search.df_build", "op.query", opId) {
        if (q.kind == "and") Search.andQueryFromIndex(spark, snapDir, q.terms)
        else Search.orQueryFromIndex(spark, snapDir, q.terms)
      }
      lastDfBuildMs = (System.nanoTime() - t0) / 1e6
      span("search.execute", "op.query", opId)(lastQuery.collect())
    }

    /** Plan phases, scan/filter/generate row counts and a pruned-scan prefix
      * of the query just run; called outside its timed span.
      */
    def observe(q: Query, opId: String, rows: Long): Unit = {
      val qe = lastQuery.queryExecution
      val ph = qe.tracker.phases
      def phase(p: String): Double = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      val executed = qe.executedPlan
      def metric(p: SparkPlan, m: String): Long = p.metrics.get(m).map(_.value).getOrElse(0L)
      val scans = collect(executed) { case b: BatchScanExec => b }
      val filters = collect(executed) { case f: FilterExec => f }
      val gens = collect(executed) { case g: GenerateExec => g }
      val letters = q.terms.map(cleaned).filter(_.nonEmpty).map(_.take(1)).distinct
      spark.sparkContext.setJobDescription(s"scan-$opId")
      val s0 = System.nanoTime()
      span("letters.scan", "", opId) {
        noop(spark.read.format("graft-letters").load(snapDir)
          .where(col("letter").isin(letters: _*)).select(col("word"), col("doc_ids")))
      }
      queryObs += QueryObs(lastDfBuildMs, phase("analysis"), phase("optimization"), phase("planning"),
        scans.map(_.inputPartitions.size.toLong).sum, scans.map(metric(_, "numOutputRows")).sum,
        filters.map(metric(_, "numOutputRows")).sum, gens.map(metric(_, "numOutputRows")).sum, rows,
        (System.nanoTime() - s0) / 1e9)
    }

    def step(phase: String): Unit = {
      val op = plan.ops(seq % plan.ops.size)
      val opId = s"$phase-$seq"
      spark.sparkContext.setJobDescription(opId)
      // the timed part returns the check of its output, run after t1
      val t0 = System.nanoTime()
      val check: () => (String, Long) =
        try span(s"op.${op.name}", "", opId) {
          op match {
            case Build =>
              Engine.buildIndex(spark, plan.corpus, corpusBase, buildDir)
              () => { snapDir = buildDir; snap = -2; lettersDigest(buildDir) }
            case q: Query =>
              val rows = query(q, opId)
              () => {
                if (tracing) observe(q, opId, rows.length)
                (rowsDigest(q.kind, rows), rows.length.toLong)
              }
            case Merge(i) =>
              val dir = snapDirs(merges % 2)
              LetterSink.mergeExact(spark, plan.index.getOrElse(buildDir), deltaFrame(i), dir)
              () => { snapDir = dir; snap = i; merges += 1; lettersDigest(dir) }
          }
        } catch { case NonFatal(e) => () => (s"ERROR:${e.getClass.getSimpleName}", 0L) }
      val t1 = System.nanoTime()
      val (digest, rows) = check()
      recs += Rec(seq, phase, op, snap, (t1 - t0) / 1e6, digest, rows, (System.nanoTime() - t00) / 1e6)
      seq += 1
    }

    val comp = ManagementFactory.getCompilationMXBean
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    final case class Counters(jitMs: Long, gcMs: Long, gcCount: Long, cpuNs: Long)
    def counters(): Counters = Counters(comp.getTotalCompilationTime, gcs.map(_.getCollectionTime).sum,
      gcs.map(_.getCollectionCount).sum, os.getProcessCpuTime)

    /** Runs ops for `secs`; `phaseOf(i)` names the i-th op's phase, and
      * only "traced" ops record spans and plan observations.
      */
    def window(secs: Double, phaseOf: Int => String): (Int, Int, Double, Counters, Counters) = {
      val first = seq
      val c0 = counters()
      val w0 = System.nanoTime()
      meta("window.start_ms", (w0 - t00) / 1e6)
      val end = w0 + (secs * 1e9).toLong
      while (System.nanoTime() < end) {
        val phase = phaseOf(seq - first)
        tracing = phase == "traced"
        step(phase)
      }
      tracing = false
      val wall = (System.nanoTime() - w0) / 1e9
      (first, seq, wall, c0, counters())
    }

    val warm0 = counters()
    val warmDeadline = System.nanoTime() + 90000000000L
    while (seq < warmup && System.nanoTime() < warmDeadline) step("warm")
    val warm1 = counters()
    meta("warmup_ops", seq)
    meta("warmup_jit_ms", warm1.jitMs - warm0.jitMs)

    def report(prefix: String, w: (Int, Int, Double, Counters, Counters)): Unit = {
      val (a, b, wall, c0, c1) = w
      meta(s"$prefix.ops", b - a)
      meta(s"$prefix.wall_s", wall)
      meta(s"$prefix.jit_ms", c1.jitMs - c0.jitMs)
      meta(s"$prefix.gc_ms", c1.gcMs - c0.gcMs)
      meta(s"$prefix.gc_count", c1.gcCount - c0.gcCount)
      meta(s"$prefix.cpu_s", (c1.cpuNs - c0.cpuNs) / 1e9)
    }

    if (!trace) {
      report("window", window(seconds, _ => "timed"))
      // retained heap: one full GC after the timed window, session still open
      System.gc()
      meta("retained_heap_mb", ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0)
    } else {
      // traced and untraced ops alternate, so that the overhead estimate
      // is not confounded with the drift of a warming JVM
      spark.sparkContext.addSparkListener(listener)
      report("window", window(seconds, i => if (i % 2 == 1) "traced" else "timed"))
      tracing = true
      layers(spark, plan, work, corpusBase, snapDir, deltaFrame, queryObs,
        q => { val opId = s"probe-${q.id}"; observe(q, opId, query(q, opId).length.toLong) }, meta)
      listener.drain()
      val traced = listener.byDesc.asScala.filter(_._1.startsWith("traced-")).values
      val nOps = math.max(1, recs.count(_.phase == "traced"))
      meta("spark.jobs_per_op", traced.map(_.jobs).sum.toDouble / nOps)
      meta("spark.stages_per_op", traced.map(_.stages).sum.toDouble / nOps)
      meta("spark.tasks_per_op", traced.map(_.tasks).sum.toDouble / nOps)
      meta("spark.executor_run_ms", traced.map(_.runMs).sum.toDouble / nOps)
      meta("spark.executor_cpu_ms", traced.map(_.cpuMs).sum.toDouble / nOps)
      meta("spark.scheduler_delay_ms", traced.map(_.delayMs).sum.toDouble / nOps)
      meta("spark.shuffle_write_bytes", traced.map(_.shuffleWrite).sum.toDouble / nOps)
      meta("spark.spill_bytes", traced.map(_.spill).sum.toDouble / nOps)
      meta("spark.failed_tasks", listener.byDesc.asScala.values.map(_.failed).sum)
      listener.byDesc.asScala.toSeq.filter(_._1.startsWith("prefix.")).sortBy(_._1).foreach { case (d, t) =>
        meta(s"listener_run_ms.$d", t.runMs)
      }
      val sp = new java.io.PrintWriter(Files.newBufferedWriter(Paths.get(work, "spans.jsonl"), UTF_8))
      spans.foreach { s =>
        sp.println(f"""{"name":"${s.name}","start_ns":${s.start - t00},"end_ns":${s.end - t00},"parent":"${s.parent}","op":"${s.opId}"}""")
      }
      sp.close()
    }
    recs.foreach { r =>
      val detail = r.op match {
        case Query(id, kind, _) => s"$id\t$kind"
        case Merge(i) => s"$i\t-"
        case Build => "-\t-"
      }
      out.println(f"op\t${r.seq}\t${r.phase}\t${r.op.name}\t$detail\t${r.snap}\t${r.ms}%.4f\t${r.digest}\t${r.rows}\t${r.endMs}%.3f")
    }
    out.close()
    spark.stop()
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Layer split by cumulative prefixes through the noop sink, each timed
    * `reps` times round-robin; self time = difference of consecutive medians.
    */
  private def layers(
      spark: SparkSession,
      plan: Plan,
      work: String,
      corpusBase: String,
      snapDir: String,
      deltaFrame: Int => DataFrame,
      queryObs: ArrayBuffer[QueryObs],
      probe: Query => Unit,
      meta: (String, Any) => Unit): Unit = {
    val reps = 3
    def scan(): DataFrame = spark.read.format("graft-manifest").option("baseDir", corpusBase)
      .load(plan.corpus).select("file_id", "line")
    def toks(): DataFrame = Tokenize.tokens(scan(), textCol = "line", keep = Seq("file_id"))
    def postings(): DataFrame = Engine.indexFromManifest(spark, plan.corpus, corpusBase)
    def ranked(): DataFrame = postings()
      .select(col("letter"), col("df"), col("word"),
        concat(col("word"), lit(":["), array_join(col("doc_ids"), " "), lit("]")).as("line"))
      .orderBy(asc("letter"), desc("df"), asc("word"))
      .select("letter", "line")
    val prefixDir = s"$work/prefix"
    val build: Seq[(String, () => Unit)] = Seq(
      "scan" -> (() => noop(scan())),
      "tokenize" -> (() => noop(toks())),
      "aggregate" -> (() => noop(postings())),
      "rank" -> (() => noop(ranked())),
      "write" -> (() => { Engine.buildIndex(spark, plan.corpus, corpusBase, prefixDir); () }))
    val base = plan.index.getOrElse(snapDir)
    def existing(): DataFrame = spark.read.format("graft-letters").load(base).select(col("word"), col("doc_ids"))
    val mergeDir = s"$work/prefix-merge"
    val merge: Seq[(String, () => Unit)] = Seq(
      "letters_scan" -> (() => noop(existing())),
      "merge_join" -> (() => noop(InvertedIndex.mergeIndexes(existing(), deltaFrame(0)))),
      "merge_write" -> (() => { LetterSink.mergeExact(spark, base, deltaFrame(0), mergeDir); () }))

    def timeAll(group: String, steps: Seq[(String, () => Unit)]): Map[String, Double] = {
      val times = steps.map(_._1 -> ArrayBuffer[Double]()).toMap
      (1 to reps).foreach { r =>
        steps.foreach { case (name, f) =>
          spark.sparkContext.setJobDescription(s"prefix.$group.$name.$r")
          val t0 = System.nanoTime()
          span(s"prefix.$group.$name", "", s"prefix-$group-$r")(f())
          times(name) += (System.nanoTime() - t0) / 1e9
        }
      }
      steps.map { case (n, _) => n -> median(times(n).toSeq) }.toMap
    }
    val b = timeAll("build", build)
    meta("manifest.scan_s", b("scan"))
    meta("tokenize.self_s", b("tokenize") - b("scan"))
    meta("index.aggregate_self_s", b("aggregate") - b("tokenize"))
    meta("sink.rank_self_s", b("rank") - b("aggregate"))
    meta("sink.write_self_s", b("write") - b("rank"))
    meta("build.prefix_total_s", b("write"))
    val m = timeAll("merge", merge)
    meta("letters.full_scan_s", m("letters_scan"))
    meta("index.merge_join_self_s", m("merge_join") - m("letters_scan"))
    meta("sink.merge_write_self_s", m("merge_write") - m("merge_join"))
    meta("merge.prefix_total_s", m("merge_write"))

    // counts, outside every timed span
    val manifestToks = scala.io.Source.fromFile(plan.corpus, "UTF-8").mkString.split("\\s+").filter(_.nonEmpty)
    val files = manifestToks.slice(1, 1 + manifestToks(0).toInt)
    meta("manifest.files", files.length)
    meta("manifest.bytes", files.map(f => Files.size(Paths.get(corpusBase, f))).sum)
    meta("manifest.lines", scan().count())
    meta("manifest.partitions", scan().rdd.getNumPartitions)
    meta("tokenize.tokens", toks().count())
    val p = postings().agg(count(lit(1)), sum(col("df"))).head()
    meta("index.distinct_words", p.getLong(0))
    meta("index.postings", p.getLong(1))
    meta("sink.collected_rows", p.getLong(0))
    val (buildDigest, bytesWritten) = lettersDigest(prefixDir)
    meta("sink.bytes_written", bytesWritten)
    // the prefix runs' own outputs, checked by run.py like every op
    meta("check.build", buildDigest)
    meta("check.merge0", lettersDigest(mergeDir)._1)

    if (queryObs.isEmpty) plan.probes.foreach(probe)
    def med(f: QueryObs => Double): Double = median(queryObs.map(f).toSeq)
    val q = queryObs.toSeq
    meta("queries_traced", q.size)
    meta("letters.files_opened_per_query", q.map(_.files.toDouble).sum / math.max(1, q.size))
    meta("letters.rows_read_per_query", q.map(_.rowsRead.toDouble).sum / math.max(1, q.size))
    meta("letters.rows_kept_ratio", q.map(_.rowsKept.toDouble).sum / math.max(1.0, q.map(_.rowsRead.toDouble).sum))
    meta("letters.scan_s", med(_.scanS))
    meta("search.df_build_ms", med(_.dfBuildMs))
    meta("search.exploded_rows", q.map(_.exploded.toDouble).sum / math.max(1, q.size))
    meta("search.result_rows", q.map(_.result.toDouble).sum / math.max(1, q.size))
    meta("plan.analysis_ms", med(_.analysisMs))
    meta("plan.optimize_ms", med(_.optimizeMs))
    meta("plan.physical_ms", med(_.physicalMs))
  }
}
