package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Mechanical guards over the audit surface itself:
  *
  *  1. REGISTRY — `SparkEntry.registry` is the one place a query is
  *     defined: its plan, its DuckDB oracle SQL and its audit shape (the
  *     plan itself, or the loop body of an iterative query). Coverage is
  *     a property of the types; these tests check that every entry's audit
  *     plan builds, that its contract and oracle are well-formed, and that
  *     the registry rejects unknown and duplicate names.
  *
  *  2. GLOBAL-WINDOW LINT — no production query's plan may contain a
  *     Window with an EMPTY partition spec (the shape that plans as
  *     `Exchange SinglePartition` → one-task Sort → Window over the whole
  *     relation — the r12 `q_oov_rate` scale-killer) unless the query is
  *     whitelisted as METADATA-BOUNDED: the windowed relation is provably
  *     small (a bounded bucket/day domain or chunk aggregate), not
  *     corpus- or vocabulary-sized. The whitelist is explicit and must
  *     stay EXACT — an entry whose query stops flagging must be removed,
  *     so stale justifications can't hide a future regression.
  */
class AuditLintSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** The global windows in a plan: every Window operator whose partition
    * spec is empty — the physical planner gives exactly these a
    * SinglePartition required distribution, i.e. an
    * `Exchange SinglePartition` feeding a one-task sort+window.
    */
  private def globalWindows(df: DataFrame): Seq[String] =
    df.queryExecution.sparkPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty =>
        w.windowExpression.mkString(",").take(120)
      case w: WindowGroupLimitExec if w.partitionSpec.isEmpty =>
        s"WindowGroupLimit(${w.orderSpec.mkString(",")})".take(120)
    }

  /** Every query built once at sf0.001 and shared by the lints below; a
    * query whose plan fails to build keeps its error text instead. */
  private lazy val audits: Seq[(String, Either[String, AuditLintSpec.PlanAudit])] = {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    SparkEntry.registry.map { q =>
      q.name -> (try {
        val out = q.build(spark, sfDir)
        val complex = out.schema.fields.toSeq.collect {
          case f if f.dataType.isInstanceOf[ArrayType]
            || f.dataType.isInstanceOf[MapType]
            || f.dataType.isInstanceOf[StructType] => s"${f.name}: ${f.dataType.simpleString}"
        }
        val auditPlan = q.iteration.fold(out)(_.body(spark, sfDir))
        Right(AuditLintSpec.PlanAudit(q.iteration.nonEmpty, complex, globalWindows(auditPlan)))
      } catch {
        case scala.util.control.NonFatal(e) => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      })
    }
  }

  private def built: Seq[(String, AuditLintSpec.PlanAudit)] = audits.collect { case (n, Right(a)) => n -> a }

  private val noop: (org.apache.spark.sql.SparkSession, String) => DataFrame = (s, _) => s.emptyDataFrame

  test("every SparkEntry query is plan-audited (pipelines + iterativeBodies), no stale entries") {
    // static or iterative is a property of the entry (iteration empty or
    // not), so no query can be unaudited, audited twice or audited stale;
    // what is left to check is that every audit plan builds
    val broken = audits.collect { case (n, Left(err)) => s"$n: ${err.take(300)}" }
    assert(broken.isEmpty, s"queries whose audit plan does not build:\n${broken.mkString("\n")}")
  }

  test("every iterative loop declares its termination contract, no stale entries") {
    // r15 verdict task 8: the k-truss count-fixpoint lesson as a standing
    // contract — a driver-loop query must say how its loop ENDS
    // (early-exit fixpoint, or a bounded budget with the reason the budget
    // is the semantics); the contract sits on the entry's Iteration, whose
    // constructor rejects any other form
    val contracts = SparkEntry.registry.flatMap(q => q.iteration.map(q.name -> _.contract))
    assert(contracts.nonEmpty, "no iterative query is registered")
    val malformed = contracts.collect {
      case (k, v) if !v.startsWith("early-exit:") && !v.startsWith("bounded-rounds:") => k
    }
    assert(malformed.isEmpty,
      s"contracts must start with 'early-exit:' or 'bounded-rounds:': " +
        malformed.sorted.mkString(", "))
  }

  test("every query carries a DuckDB oracle, and no oracle is orphaned") {
    // the driver downgrades an oracle-less query to a weaker rows-only
    // check — make shipping one a build failure, not a silent downgrade;
    // an oracle lives on its query's entry, so none can be orphaned
    val missing = SparkEntry.registry.collect { case q if q.oracleSql.trim.isEmpty => q.name }
    assert(missing.isEmpty, s"queries with a blank oracleSql (rows-only downgrade): ${missing.mkString(", ")}")
  }

  test("an unknown query name fails loudly and names every unknown name") {
    val err = intercept[IllegalArgumentException](
      SparkEntry.lookup("q_topk_orders", "q_serch_and_indexed", "q_nope"))
    assert(err.getMessage.contains("q_serch_and_indexed") && err.getMessage.contains("q_nope"),
      err.getMessage)
    assert(!err.getMessage.contains("q_topk_orders"), err.getMessage)
    // known names come back in registry order
    val order = SparkEntry.registry.map(_.name)
    val got = SparkEntry.lookup(order(2), order(0)).map(_.name)
    assert(got == Seq(order(0), order(2)))
  }

  test("the registry rejects a duplicate query name") {
    val err = intercept[IllegalArgumentException](SparkEntry.registryOf(
      QueryDef("q_a", noop, "SELECT 1"), QueryDef("q_b", noop, "SELECT 2"),
      QueryDef("q_a", noop, "SELECT 3")))
    assert(err.getMessage.contains("q_a") && !err.getMessage.contains("q_b"), err.getMessage)
    assert(SparkEntry.registry.map(_.name).distinct.size == SparkEntry.registry.size)
  }

  test("an iteration contract of the wrong form is rejected") {
    intercept[IllegalArgumentException](Iteration("loops until nothing changes", noop))
    assert(Iteration("early-exit: stops at a count fixpoint", noop).contract.startsWith("early-exit:"))
  }

  /** Queries allowed a global window, each with the reason its windowed
    * relation is METADATA-SIZED (bounded by a constant of the query, not
    * by corpus/vocabulary cardinality).
    */
  private val globalWindowWhitelist: Map[String, String] = Map(
    // chunk-base prefix sum: the global window runs over ONE ROW PER
    // CHUNK (a partial agg already collapsed the per-value relation to
    // its value-range chunks) — the two-pass chunked-prefix discipline's
    // own bounded second pass
    "q_spearman"  -> "chunked-prefix ranks: window over per-chunk totals, not rows",
    "q_conformal" -> "chunked-prefix order statistic: window over per-chunk totals, not residuals",
    "q_auc"       -> "chunked-prefix negBelow: window over per-chunk totals, not rows",
    "q_kruskal_wallis" -> "chunked-prefix pooled ranks: window over per-chunk totals, not rows",
    "q_wilcoxon" -> "chunked-prefix |d| ranks: window over per-chunk totals, not pairs",
    "q_best_split" -> "chunked-prefix split candidates: window over per-chunk totals, not rows",
    "q_rfm" -> "chunked-prefix strictly-below counts (x3 metrics): windows over per-chunk totals, not customers",
    // bounded-domain cumulatives: the window input is one row per
    // calendar day / log-spaced bucket / source — metadata cardinality
    "q_survival"     -> "Kaplan-Meier product over the per-DAY event table (day-domain)",
    "q_logrank"      -> "log-rank O-E/V at-risk cumulatives over the per-DAY lifetime table (day-domain)",
    "q_vocab_growth" -> "Heaps curve over per-bucket (log-spaced) aggregate rows",
    "q_temp_mixture" -> "cumulative budget over the per-SOURCE mixture table",
    "q_neyman_alloc" -> "largest-remainder rank over the per-STRATUM allocation table",
    "q_concurrency" -> "minute-domain carry: window over per-minute net aggregates, not boundary rows",
    "q_bh_fdr" -> "BH rank over the per-GROUP test family (k hypotheses, metadata-sized)",
    // the two-pass distributed rank's second pass: offset cumsum over ONE
    // ROW PER RANGE PARTITION (numRange rows — the compactionPlan
    // metadata-relation argument); the data itself is ranked inside its
    // range partitions, never through this window
    "q_shard_plan" -> "globalRank offset cumsum over per-range-partition counts (numRange rows)",
    "q_shard_manifest" -> "globalRank offset cumsum over per-range-partition counts (numRange rows)",
    "q_shard_packs" -> "globalRank offset cumsum over per-range-partition counts (numRange rows)",
    "q_shard_incr" -> "globalRank offset cumsum (numRange rows) + load-order rank over the N-row shard manifest",
    "q_shard_manifest_incr" -> "globalRank offset cumsum (numRange rows) + load-order rank over the N-row shard manifest (fold's batch agg itself is window-free)",
    "q_epoch_within" -> "globalRank offset cumsum (numRange rows) in the underlying shardPlan; the epoch rank itself is per-shard",
    "q_epoch_visit" -> "globalRank offset cumsum (numRange rows) in the underlying shardPlan; the visit rank is per-epoch over N manifest rows")

  test("global-window lint: no production plan windows the whole relation unless metadata-bounded") {
    // the driver-loop queries' representative-iteration bodies are plans
    // too — a loop BODY with a global window repeats the one-task sort
    // every round, which is strictly worse than doing it once
    val flagged = built.collect {
      case (name, a) if a.globalWindows.nonEmpty =>
        (if (a.iterative) s"$name (iteration body)" else name) -> a.globalWindows
    }.toMap
    val unexplained = flagged.keySet -- globalWindowWhitelist.keySet
    assert(unexplained.isEmpty,
      unexplained.toSeq.sorted.map(n => s"$n:\n  ${flagged(n).mkString("\n  ")}").mkString(
        "queries with a NON-whitelisted global window (Exchange SinglePartition → Window):\n",
        "\n", "\nEither re-plan without the global window (q_oov_rate r13 discipline: " +
          "TakeOrdered top-k + broadcast/aggregate) or whitelist with a metadata-bounded reason."))
    val stale = globalWindowWhitelist.keySet -- flagged.keySet
    assert(stale.isEmpty,
      s"whitelist entries whose query no longer has a global window (remove them): " +
        stale.toSeq.sorted.mkString(", "))
  }

  test("flat-schema lint: every query output is scalar-only (the driver gate cannot compare arrays)") {
    // r14 shipped q_image_stats with an array<long> hist column; the
    // driver's pandas compare crashed on the unhashable ndarray cells and
    // the query ran with NO oracle verification while SURVEY claimed
    // all-oracled. Complex-typed output columns are a hard build failure:
    // emit a canonical scalar (array_join, explode-to-rows, per-element
    // columns) instead.
    val offenders = built.sortBy(_._1).collect {
      case (name, a) if a.complexCols.nonEmpty => s"$name(${a.complexCols.mkString(", ")})"
    }
    assert(offenders.isEmpty,
      s"queries with complex-typed output columns (driver hash compare would crash): " +
        offenders.mkString(", "))
  }

  // ---------------------------------------------------------------- caps

  /** PUBLIC operator defs whose parameter list takes a bucket/df cap but
    * offers no Observation hook — i.e. an operator that can silently drop
    * mass with no way to audit the cut from the run itself. Private defs
    * are exempt (they inherit the audit through their public callers).
    */
  private def capDefsWithoutAudit(src: String): Seq[String] = {
    val defRe = """(?m)^(\s*)((?:private|protected)[^\n]*\s)?def\s+(\w+)\s*\(""".r
    defRe.findAllMatchIn(src).flatMap { m =>
      val visibility = Option(m.group(2)).getOrElse("")
      val name = m.group(3)
      // walk the balanced parameter list from the opening paren
      val start = m.end - 1
      var depth = 0
      var i = start
      while (i < src.length && (depth > 0 || i == start)) {
        src.charAt(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1
          case _ =>
        }
        i += 1
      }
      val params = src.substring(start, math.min(i, src.length))
      val takesCap = params.contains("maxBucket: Int") || params.contains("dfCap: Int") ||
        params.contains("maxDeg: Int")
      val hasAudit = params.contains("Observation")
      val isPublic = !visibility.contains("private") && !visibility.contains("protected")
      if (takesCap && isPublic && !hasAudit) Some(name) else None
    }.toSeq
  }

  /** Every engine source file (`src/main/scala/graft`) with its text. */
  private def engineSources: Seq[(java.io.File, String)] = {
    val opDir = new java.io.File("src/main/scala/graft")
    assert(opDir.isDirectory, s"source dir not found from ${sys.props("user.dir")}")
    def scalaFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(scalaFiles)
      else if (f.getName.endsWith(".scala")) Seq(f) else Seq.empty
    scalaFiles(opDir).map(f => f -> new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
  }

  test("cap lint: every public cap-taking operator offers the observe() drop audit") {
    val offenders = engineSources.flatMap { case (f, src) =>
      capDefsWithoutAudit(src).map(n => s"${f.getName}:$n")
    }
    assert(offenders.isEmpty,
      s"cap-taking operators with NO Observation audit hook (add a dropAudit/stopAudit " +
        s"param and observe the cut — the Dedup.dropMetrics discipline): " +
        offenders.sorted.mkString(", "))
  }

  test("the cap lint flags a seeded cap-without-observe operator") {
    val seeded =
      """object Bad {
        |  def hotPairs(df: DataFrame, maxBucket: Int = 4096): DataFrame = {
        |    df
        |  }
        |  private def helper(maxBucket: Int): Int = maxBucket
        |  def audited(df: DataFrame, maxBucket: Int,
        |      dropAudit: Option[org.apache.spark.sql.Observation]): DataFrame = df
        |}""".stripMargin
    assert(capDefsWithoutAudit(seeded) == Seq("hotPairs"),
      s"detector must flag exactly the public unaudited def: ${capDefsWithoutAudit(seeded)}")
  }

  // ----------------------------------------------------- materialization

  /** The code lines of `src` that checkpoint a relation themselves instead
    * of going through `graft.functions.Materialize`'s `pin()`; comments
    * are skipped.
    */
  private def rawCheckpoints(src: String): Seq[String] =
    src.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")
      .linesIterator.map(_.trim)
      .filter(l => l.contains("localCheckpoint(") || l.contains(".checkpoint("))
      .toSeq

  test("materialization lint: only Materialize checkpoints, every other site calls pin()") {
    val offenders = engineSources.collect {
      case (f, src) if f.getName != "Materialize.scala" => rawCheckpoints(src).map(l => s"${f.getName}: $l")
    }.flatten
    assert(offenders.isEmpty,
      s"checkpoints that bypass the one materialization policy (use .pin() from " +
        s"graft.functions.Materialize): ${offenders.mkString("\n", "\n", "")}")
  }

  test("the materialization lint flags a seeded raw checkpoint and skips comments") {
    val seeded =
      """object Bad {
        |  /** pinned with `localCheckpoint(true)` before the loop */
        |  def a(df: DataFrame): DataFrame = df.localCheckpoint(true)
        |  // df.checkpoint(true) would go to disk
        |  def b(df: DataFrame): DataFrame = df.pin() // not df.localCheckpoint(true)
        |  def c(df: DataFrame): DataFrame =
        |    df.distinct().checkpoint(true)
        |}""".stripMargin
    assert(rawCheckpoints(seeded) ==
      Seq("def a(df: DataFrame): DataFrame = df.localCheckpoint(true)", "df.distinct().checkpoint(true)"),
      s"detector must flag exactly the two code calls: ${rawCheckpoints(seeded)}")
  }

  test("the audit's plan text does not depend on what the JVM built before") {
    // q_bigram_lm pins its bigram table and plans lambda functions, so its
    // raw plan carries expression ids, an RDD id with its call site and
    // lambda variable ids; q_dedup_paragraph built in between advances
    // every one of those counters
    val q = SparkEntry.lookup("q_bigram_lm").head
    val first = q.build(spark, sfDir)
    SparkEntry.lookup("q_dedup_paragraph").head.build(spark, sfDir)
    val second = q.build(spark, sfDir)
    val raw = Seq(first, second).map(_.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode))
    assert(raw(0) != raw(1), "the two builds should differ in their raw counters")
    assert(ExplainAudit.planText(first) == ExplainAudit.planText(second))
  }

  test("the audit's round label is the EXPLAIN_rN number, else the file's base name") {
    assert(ExplainAudit.roundLabel("EXPLAIN_r07.md") == "7")
    assert(ExplainAudit.roundLabel("/x/EXPLAIN_parent.md") == "EXPLAIN_parent.md")
    assert(ExplainAudit.roundLabel("/x/EXPLAIN_r3/audit.md") == "audit.md")
  }

  test("scratch dirs live under a root unique to this process, wiped on each call") {
    // a second JVM cannot be started here; its root carries its own pid
    // and a fresh random suffix, so two sessions never resolve one path
    val root = SparkEntry.scratchRoot
    assert(java.nio.file.Files.isDirectory(root))
    assert(root.getFileName.toString.startsWith(s"graft-scratch-${ProcessHandle.current().pid()}-"), root)
    val p = java.nio.file.Paths.get(SparkEntry.scratch("spec", "/x/sf0.001"))
    assert(p.getParent == root && p.getFileName.toString == "spec-_x_sf0.001")
    java.nio.file.Files.write(p.resolve("stale"), Array[Byte](1))
    assert(SparkEntry.scratch("spec", "/x/sf0.001") == p.toString)
    assert(p.toFile.list().isEmpty, "scratch must wipe the directory it hands out")
    // the audit's plan text names the root as <scratch>, the same in every JVM
    val text = ExplainAudit.planText(spark.read.text(p.toString))
    assert(text.contains("<scratch>/spec-_x_sf0.001") && !text.contains(root.toString), text)
  }

  test("the lint flags a seeded violation (vocabulary-wide row_number)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val bad = graft.operators.Tokenize.tokens(docs, "text", Seq("doc_id"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .withColumn("rk", row_number().over(Window.orderBy(desc("freq"), asc("word"))))
      .where(col("rk") <= 20)
    assert(globalWindows(bad).nonEmpty,
      "the detector must flag a row_number window with no partition spec")
    // and the repaired q_oov_rate no longer trips it (the r12 finding)
    assert(globalWindows(SparkEntry.lookup("q_oov_rate").head.build(spark, sfDir)).isEmpty,
      "q_oov_rate must stay free of whole-vocabulary windows")
  }
}

object AuditLintSpec {

  /** What the lints need of one query, kept as strings so no DataFrame
    * outlives its build: the complex-typed columns of its output, and the
    * global windows of its audit plan (the plan of a static query, the
    * iteration body of an iterative one).
    */
  private final case class PlanAudit(
      iterative: Boolean, complexCols: Seq[String], globalWindows: Seq[String])
}
