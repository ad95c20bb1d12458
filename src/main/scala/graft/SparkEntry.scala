package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Materialize.Pinned
import graft.functions.TextAnalysis
import graft.operators.{Dedup, InvertedIndex, Sampling, Search, Similarity, Tokenize}

/** One registered query: the plan, the DuckDB oracle SQL it is checked
  * against, and — for a query whose driver loop runs jobs while its
  * DataFrame is built — the [[Iteration]] that stands in for its audit
  * plan. A query is static (its `build` plan is the audited plan) exactly
  * when `iteration` is empty.
  */
final case class QueryDef(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracleSql: String,
    iteration: Option[Iteration] = None)

/** The audit shape of an iterative query.
  *
  * `contract` says HOW the driver loop ends (the k-truss lesson: a cheap
  * count-fixpoint exit turned a 40 s straggler into 3.4 s), in one of two
  * forms:
  *
  *   `early-exit: …`     — the loop detects a fixpoint (count-unchanged,
  *                         observe()-metric, exhaustion) and stops; the
  *                         rounds/iters parameter is only a safety bound.
  *   `bounded-rounds: …` — the loop runs a FIXED budget by design; the
  *                         rationale must say why that's semantically
  *                         right (definitional iteration count, learned
  *                         table length, oscillation-unsafe fixpoint).
  *
  * `body` is the representative-iteration plan: the fixed LOOP BODY the
  * query repeats, which must stay scale-shaped (partial aggs below the
  * exchange, broadcast label joins, bounded argmax). Loop-state inputs
  * (checkpointed label/vocab/centroid relations in the real loop) appear
  * as their lazy derivations; the encode-side plans use a fixed literal
  * merge table (plan shape is independent of the learned pairs).
  */
final case class Iteration(contract: String, body: (SparkSession, String) => DataFrame) {
  require(contract.startsWith("early-exit:") || contract.startsWith("bounded-rounds:"),
    s"an iteration contract starts with 'early-exit:' or 'bounded-rounds:': $contract")
}

/** Driver contract — see SURVEY.md §7.
  *
  * Every query here is paired with DuckDB oracle SQL producing IDENTICAL
  * column names and a deterministic total row order. Doubles are rounded on
  * both sides so partial-aggregation order can't flip low bits.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Deterministic markup wrapper for the HTML-strip queries: the testdata
    * corpus is plain text, so tags, script/style/comment blocks and
    * named + numeric entities are synthesized from (doc_id, text) by a
    * formula the DuckDB oracle replays verbatim.
    */
  private def htmlTagged: org.apache.spark.sql.Column = concat(
    lit("<html><head><style>p{color:#"),
    lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
    lit("}</style><script>var x="), (col("doc_id") % 97).cast("string"),
    lit(";</script></head><body><!-- id "), col("doc_id").cast("string"),
    lit(" --><h1 class=\"t\">Doc &#39;"), col("doc_id").cast("string"),
    lit("&#39;</h1><p>"),
    replace(col("text"), lit(" the "), lit(" &amp;the&nbsp;")),
    lit("</p><div id='f'>end &lt;eof&gt;</div></body></html>"))

  /** The shared curation chain (q_curate_pipeline, q_curate_html): PII
    * redact → length+alpha quality gate → exact dedup (keep-min) →
    * per-source cap, composed as ONE declarative plan over any
    * (doc_id, lang, source, text) relation.
    */
  private def curate(docs: DataFrame): DataFrame = {
    val red = docs
      .withColumn("rtext", operators.CorpusClean.redactPii(col("text")))
    val gated = red
      .withColumn("n_ws", TextAnalysis.wsTokenCount(col("rtext")))
      .withColumn("n_alpha", size(Tokenize.tokenArray(col("rtext"))))
      .where(
        col("n_ws") >= 5 && col("n_ws") <= 2000 &&
          col("n_alpha").cast("double") >= col("n_ws").cast("double") * 0.5)
    // keep-min dedup via min_by — one shuffle, no join-back onto the
    // corpus subtree; the deduped 3-column survivor relation is then
    // materialized once because BOTH the cap and the final lang join
    // consume it (lazy, each would re-run redact+gate+dedup).
    val kept = gated
      .withColumn("h", sha2(col("rtext"), 256))
      .groupBy(col("h"))
      .agg(min_by(struct(col("doc_id"), col("lang"), col("source")), col("doc_id")).as("r"))
      .select(col("r.doc_id"), col("r.lang"), col("r.source"))
      .pin()
    Sampling
      .perGroupCap(kept, "source", "doc_id", cap = 20)
      .join(kept.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy("doc_id")
  }

  /** Shadows functions.round for every query below: engine round() semantics
    * diverge at exact half-way points (found at sf0.1 — see
    * graft.functions.Portable), so all query-surface rounding uses the
    * portable floor form on BOTH the Spark and the DuckDB side.
    */
  private def round(c: Column, n: Int): Column = graft.functions.Portable.pround(c, n)

  /** This JVM's scratch root: created once, named by the process id plus a
    * random suffix, and removed at JVM exit, so two JVMs never share a
    * scratch path (two runs on one sf dir used to delete each other's
    * files).
    */
  private[graft] lazy val scratchRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory(s"graft-scratch-${ProcessHandle.current().pid()}-")
    sys.addShutdownHook(deleteTree(root))
    root
  }

  private def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(java.nio.file.Files.delete(_))
    }

  /** Fixed per-(purpose, sf) scratch directory under [[scratchRoot]], wiped
    * and recreated on each call: queries that materialize an index snapshot
    * or corpus copy reuse ONE path across repeated verify/bench sweeps
    * instead of leaking a new temp dir per invocation (ADVICE r11). */
  private[graft] def scratch(name: String, dir: String): String = {
    val p = scratchRoot.resolve(s"$name-${dir.replaceAll("[^A-Za-z0-9.]", "_")}")
    deleteTree(p)
    java.nio.file.Files.createDirectories(p)
    p.toString
  }

  /** One interchange-format roundtrip leg: write the corpus out through the
    * named in-box format, re-read it with a DECLARED schema (inference
    * re-scans and can widen types), and aggregate per lang with an md5
    * content checksum — values, not just counts, must survive. The scratch
    * dir is FIXED per (format, sf) under [[scratchRoot]] and overwritten, so
    * repeated verify/bench sweeps reuse the path instead of leaking a corpus
    * copy per invocation.
    */
  private def formatRoundtrip(s: SparkSession, dir: String, fmt: String): DataFrame = {
    import org.apache.spark.sql.types._
    val docs = t(s, dir, "documents").select("doc_id", "lang", "source", "n_chars", "text")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType),
      StructField("text", StringType)))
    val base = scratchRoot.resolve(s"fmt-$fmt-${dir.replaceAll("[^A-Za-z0-9.]", "_")}").toString
    val rere = fmt match {
      case "json" =>
        docs.write.mode("overwrite").json(base)
        s.read.schema(schema).json(base)
      case "csv" =>
        docs.write.mode("overwrite").option("header", "true").option("escape", "\"").csv(base)
        s.read.schema(schema).option("header", "true").option("escape", "\"").csv(base)
      case "orc" =>
        docs.write.mode("overwrite").orc(base)
        s.read.schema(schema).orc(base)
    }
    rere
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(length(col("text"))).as("sum_text_len"),
        // content checksum both engines can replay: 32-bit md5 prefix
        // (15 hex digits overflowed the BIGINT sum under ANSI mode)
        sum(graft.functions.HexSlice.u(md5(col("text")), 1, 8)).as("sum_text_md5"))
      .select(lit(fmt).as("fmt"), col("lang"), col("n_docs"),
        col("sum_chars"), col("sum_text_len"), col("sum_text_md5"))
      .orderBy("lang")
  }

  /** Flagship query: full inverted index over the sf0.001 documents table,
    * ranked (letter ASC, df DESC, word ASC). Driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame = {
    val docs = t(spark, "/root/testdata/sf0.001", "documents")
    InvertedIndex.rankedGlobal(
      InvertedIndex.postings(Tokenize.tokens(docs, "text", Seq("doc_id"))))
  }

  // ---------------------------------------------------------------- queries

  /** The registry's only constructor: a `Map` literal keeps the last of two
    * equal keys without a word and a `Seq` keeps both, so equal names are
    * rejected here. */
  def registryOf(defs: QueryDef*): Seq[QueryDef] = {
    val dup = defs.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(dup.isEmpty, s"duplicate query names: ${dup.toSeq.sorted.mkString(", ")}")
    defs
  }

  /** The registry entries with the given names, in registry order; throws
    * naming every name that is not registered. */
  def lookup(names: String*): Seq[QueryDef] = {
    val unknown = names.filterNot(n => registry.exists(_.name == n)).distinct
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    registry.filter(d => names.contains(d.name))
  }

  // inputs of the representative-iteration bodies
  private val litMerges = Seq("t h", "e r", "th e")
  private def docs(s: SparkSession, dir: String): DataFrame = t(s, dir, "documents")
  private def pairs(s: SparkSession, dir: String): DataFrame = Dedup.minhashCandidates(
    docs(s, dir), shingleK = 3, numHashes = 16, bands = 8, maxBucket = 4096)

  /** Every query, in one place: plan, oracle SQL and audit shape. */
  lazy val registry: Seq[QueryDef] = registryOf(
    // -- scan / projection / filter / string functions (SURVEY §2b rows 1-5)
    // -- interchange formats: the corpus written out and read back through
    //    each in-box format (JSON-lines, CSV, ORC), then aggregated — pins
    //    the roundtrip lossless against the oracle's direct parquet read.
    //    Schema is declared on re-read (never inferred: schema inference
    //    re-scans the data and can widen types), CSV quotes/escapes the
    //    free-text column. At scale these are the ingest/egress paths a
    //    real corpus walks (vendor drops arrive as JSONL/CSV, ORC feeds
    //    Hive-side consumers); the aggregation proves values, not just
    //    row counts, survive the roundtrip.
    //    One oracle row PER format (split in round 12): the r11 union form
    //    hid WHICH leg diverged — and the divergence turned out to be the
    //    ORACLE's missing ::BIGINT casts (DuckDB sum(BIGINT) = HUGEINT,
    //    which the driver hashes unlike int64), not any re-read leg. Each
    //    leg writes to a FIXED scratch dir (mode overwrite) so repeated
    //    sweeps reuse instead of leak disk.
    QueryDef("q_format_roundtrip_json", (s, dir) => formatRoundtrip(s, dir, "json"),
      formatRoundtripOracle("json")),
    QueryDef("q_format_roundtrip_csv", (s, dir) => formatRoundtrip(s, dir, "csv"),
      formatRoundtripOracle("csv")),
    QueryDef("q_format_roundtrip_orc", (s, dir) => formatRoundtrip(s, dir, "orc"),
      formatRoundtripOracle("orc")),

    // -- SCHEMA EVOLUTION roundtrip: two parquet batches written with
    //    DIFFERENT schemas (the later one grew a `source` column — the
    //    routine additive migration), read back through mergeSchema into
    //    the unified schema with the old batch's new column NULL —
    //    aggregates over the union must see every row and account the
    //    missing-column mass exactly (the oracle derives the same from
    //    the source table, so a dropped row or phantom null breaks it)
    //    Scratch path is FIXED per sf dir under scratchRoot (the
    //    formatRoundtrip pattern):
    //    mode("overwrite") makes repeated bench/verify invocations reuse
    //    the same two batches instead of leaking a fresh tempdir pair of
    //    the documents table per run (r13 advice).
    QueryDef("q_schema_evolution", (s, dir) => {
      val docs = t(s, dir, "documents")
      val out = scratchRoot.resolve(s"schevo-${dir.replaceAll("[^A-Za-z0-9.]", "_")}").toString
      docs.where(col("doc_id") < 250)
        .select("doc_id", "lang", "n_chars")
        .write.mode("overwrite").parquet(s"$out/b1")
      docs.where(col("doc_id") >= 250)
        .select("doc_id", "lang", "n_chars", "source")
        .write.mode("overwrite").parquet(s"$out/b2")
      s.read.option("mergeSchema", "true").parquet(s"$out/b1", s"$out/b2")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(col("source").isNull.cast("long")).as("n_missing_source"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy("lang")
    },
      // the merged read must equal this source-table derivation: rows from
      // the pre-migration batch are exactly the doc_id < 250 rows and are
      // the only NULL-source rows
      """SELECT lang, count(*) AS n,
                sum((doc_id < 250)::INT)::BIGINT AS n_missing_source,
                sum(n_chars)::BIGINT AS sum_chars
         FROM documents GROUP BY lang ORDER BY lang"""),

    QueryDef("q_scan_project", (s, dir) => {
      t(s, dir, "documents")
        .where(col("n_chars") > 100)
        .select(
          col("doc_id"),
          col("lang"),
          col("n_chars"),
          length(col("text")).as("text_len"),
          upper(col("lang")).as("lang_uc"),
          substring(col("text"), 1, 20).as("head"),
          concat(col("lang"), lit("/"), col("source")).as("tag"))
        .orderBy("doc_id")
    },
      """SELECT doc_id, lang, n_chars, length(text) AS text_len, upper(lang) AS lang_uc,
         substr(text, 1, 20) AS head, lang || '/' || source AS tag
         FROM documents WHERE n_chars > 100 ORDER BY doc_id"""),

    // -- global multi-key sort + limit (top-k): TakeOrderedAndProject
    QueryDef("q_topk_orders", (s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), round(col("o_totalprice"), 2).as("price"))
        .orderBy(desc("price"), asc("o_orderkey"))
        .limit(100)
    },
      """SELECT o_orderkey, o_custkey, floor((o_totalprice) * 1e2 + 0.5) / 1e2 AS price
         FROM orders ORDER BY price DESC, o_orderkey LIMIT 100"""),

    // -- filtered group-by aggregation (TPC-H Q1 shape); partial+final hash agg
    QueryDef("q_agg_pricing", (s, dir) => {
      t(s, dir, "lineitem")
        .where(col("l_shipdate") <= to_timestamp(lit("1999-06-30 00:00:00")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg(col("l_discount")), 4).as("avg_disc"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")
    },
      """SELECT l_returnflag, l_linestatus,
         floor((sum(l_quantity)) * 1e2 + 0.5) / 1e2 AS sum_qty,
         floor((sum(l_extendedprice)) * 1e2 + 0.5) / 1e2 AS sum_base,
         floor((sum(l_extendedprice * (1 - l_discount))) * 1e2 + 0.5) / 1e2 AS sum_disc_price,
         floor((avg(l_discount)) * 1e4 + 0.5) / 1e4 AS avg_disc,
         count(*) AS n
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1999-06-30 00:00:00'
         GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"""),

    // -- distinct aggregation
    QueryDef("q_distinct_agg", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")
    },
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
         count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_rows
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),

    // -- multi-way join through the dimension chain; dims broadcast
    // -- DAU/WAU stickiness: exact trailing-7-day distinct users via the
    //    constant x7 day-grain expansion — no sliding window over events
    QueryDef("q_dau_wau", (s, dir) => {
      operators.Journeys
        .dauWau(graft.sources.EventsSource.events(s, dir))
        .orderBy("day")
    },
      """WITH daily AS (SELECT DISTINCT ts::DATE AS day, user_id AS u FROM events),
         dau AS (SELECT day, count(DISTINCT u) AS dau FROM daily GROUP BY 1),
         mx AS (SELECT max(day) AS mxd FROM daily),
         w AS (SELECT daily.day + t.o::INT AS day, u
               FROM daily
               CROSS JOIN (SELECT unnest(range(0, 7)) AS o) t
               CROSS JOIN mx
               WHERE daily.day + t.o::INT <= mx.mxd),
         wau AS (SELECT day, count(DISTINCT u) AS wau FROM w GROUP BY 1)
         SELECT d.day, d.dau, wau.wau,
                floor((d.dau::DOUBLE / wau.wau) * 1e4 + 0.5) / 1e4 AS stickiness_r
         FROM dau d JOIN wau USING (day) ORDER BY d.day"""),

    // -- top-20 session paths: each session's ordered event-type sequence
    //    (first 8 steps), counted corpus-wide — the history the transition
    //    matrix blurs; one sessionization window + path groupBy + top-k
    QueryDef("q_top_paths", (s, dir) => {
      operators.Journeys
        .topPaths(graft.sources.EventsSource.events(s, dir), k = 20, maxLen = 8)
        .orderBy(desc("n_sessions"), asc("path"))
    },
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type FROM events),
         s AS (SELECT *, lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_us
               FROM e),
         s2 AS (SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000
                               THEN 1 ELSE 0 END AS new_sess
                FROM s),
         s3 AS (SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
                FROM s2),
         s4 AS (SELECT *, row_number() OVER (PARTITION BY user_id, sess_id
                            ORDER BY ts_us, event_id) AS rn
                FROM s3),
         p AS (SELECT user_id, sess_id,
                      string_agg(event_type, ' > ' ORDER BY ts_us, event_id) AS path
               FROM s4 WHERE rn <= 8 GROUP BY 1, 2)
         SELECT path, count(*) AS n_sessions FROM p GROUP BY 1
         ORDER BY n_sessions DESC, path LIMIT 20"""),

    // -- peak concurrent sessions per hour: sweep-line over session
    //    (start, close) boundaries in the two-pass minute-chunked prefix
    //    form — the capacity-planning peak a mean rate hides
    QueryDef("q_concurrency", (s, dir) => {
      operators.Journeys
        .sessionConcurrency(graft.sources.EventsSource.events(s, dir))
        .orderBy("hour_id")
    },
      // DIRECT single-sort sweep-line over the same session boundaries —
      // proving the minute-chunked Spark form equals the naive sweep:
      // per-hour peak = max(boundary concurrencies, hour-start flat value)
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
         s1 AS (SELECT *, lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
                            AS prev_us
                FROM e),
         s2 AS (SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000
                               THEN 1 ELSE 0 END AS new_sess
                FROM s1),
         s3 AS (SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
                FROM s2),
         sess AS (SELECT user_id, sid, min(ts_us) AS st, max(ts_us) + 1800000000 AS en
                  FROM s3 GROUP BY 1, 2),
         d AS (SELECT t, sum(dd)::BIGINT AS d FROM (
                 SELECT st AS t, 1 AS dd FROM sess
                 UNION ALL SELECT en, -1 FROM sess) u GROUP BY t),
         r AS (SELECT t,
                      sum(d) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS conc,
                      sum(d) OVER (ORDER BY t
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pre
               FROM d),
         hb AS (SELECT t // 3600000000 AS hour_id, conc, coalesce(pre, 0) AS pre,
                       row_number() OVER (PARTITION BY t // 3600000000 ORDER BY t) AS rn
                FROM r),
         pk AS (SELECT hour_id,
                       greatest(max(conc), max(CASE WHEN rn = 1 THEN pre END))::BIGINT AS peak
                FROM hb GROUP BY hour_id),
         sh AS (SELECT st // 3600000000 AS hour_id, count(*)::BIGINT AS n_starts
                FROM sess GROUP BY 1)
         SELECT pk.hour_id, coalesce(sh.n_starts, 0)::BIGINT AS n_starts, pk.peak
         FROM pk LEFT JOIN sh USING (hour_id) ORDER BY hour_id"""),

    // -- recency-weighted activity: counts decayed with a 24 h half-life
    //    from the corpus max timestamp — the trending score a plain count
    //    can't express; exact integer microsecond exponents, one pow/row
    QueryDef("q_decayed_counts", (s, dir) => {
      operators.Journeys
        .decayedCounts(graft.sources.EventsSource.events(s, dir), halfLifeUs = 86400000000L)
        .orderBy("event_type")
    },
      """WITH t AS (SELECT max(epoch_us(ts)) AS tmax FROM events)
         SELECT event_type, count(*) AS n,
                floor((sum(pow(2.0, -((tmax - epoch_us(ts))::DOUBLE / 86400000000.0)))) * 1e4 + 0.5) / 1e4
                  AS decayed_r
         FROM events CROSS JOIN t
         GROUP BY 1 ORDER BY 1"""),

    // -- burstiness (Fano factor) of per-hour counts per event type:
    //    Poisson arrivals sit at F≈1, bot storms/batch replays ≫1,
    //    heartbeats <1 — the traffic-shape dial a mean-rate view can't
    //    see. Exact integer sums (the Welch discipline), two partial-agg
    //    passes, active-bucket semantics.
    QueryDef("q_burstiness", (s, dir) =>
      operators.TimeSeries
        .burstiness(graft.sources.EventsSource.events(s, dir))
        .orderBy("event_type"),
      // grouped no-eviction sketch == exact per-group counts
      // exact-sum mean/variance over the active hour buckets; fano from the
      // ROUNDED pieces — mirror of TimeSeries.burstiness
      """WITH c AS (SELECT event_type, strftime(ts::TIMESTAMP, '%Y-%m-%d %H') AS b,
                           count(*) AS c
                    FROM events GROUP BY 1, 2),
          g AS (SELECT event_type, count(*)::BIGINT AS n_buckets,
                       sum(c)::BIGINT AS s1, sum(c * c)::BIGINT AS s2
                FROM c GROUP BY event_type HAVING count(*) >= 2),
          m AS (SELECT event_type, n_buckets, s1 AS n_events,
                       floor((s1::DOUBLE / n_buckets) * 1e4 + 0.5) / 1e4 AS mean_r,
                       floor(((s2::DOUBLE - s1::DOUBLE * s1::DOUBLE / n_buckets)
                              / (n_buckets - 1)) * 1e4 + 0.5) / 1e4 AS var_r
                FROM g)
          SELECT event_type, n_buckets, n_events, mean_r, var_r,
                 floor((var_r / mean_r) * 1e4 + 0.5) / 1e4 AS fano_r
          FROM m ORDER BY event_type"""),

    // -- sample autocorrelation at lags 1..3 per stream over the DENSE
    //    (zero-filled) hourly series: the hour-to-hour stickiness dial;
    //    exact integer sufficient sums from one partitioned lag pass
    QueryDef("q_acf", (s, dir) =>
      operators.TimeSeries
        .acf(graft.sources.EventsSource.events(s, dir), maxLag = 3)
        .orderBy("event_type", "lag"),
      // dense zero-filled hourly spine; exact integer lag sums, one
      // fixed-order r_k expression (mirror of TimeSeries.acf)
      s"""WITH $DenseHourCte,
          lg AS (SELECT event_type, h, x,
                        lag(x, 1) OVER w AS l1, lag(x, 2) OVER w AS l2,
                        lag(x, 3) OVER w AS l3
                 FROM ser WINDOW w AS (PARTITION BY event_type ORDER BY h)),
          ag AS (SELECT event_type, count(*)::BIGINT AS n,
                        sum(x)::BIGINT AS s1, sum(x * x)::BIGINT AS s2,
                        sum(x * l1)::BIGINT AS c1, sum(l1)::BIGINT AS a1,
                        sum(CASE WHEN l1 IS NOT NULL THEN x END)::BIGINT AS b1,
                        sum(x * l2)::BIGINT AS c2, sum(l2)::BIGINT AS a2,
                        sum(CASE WHEN l2 IS NOT NULL THEN x END)::BIGINT AS b2,
                        sum(x * l3)::BIGINT AS c3, sum(l3)::BIGINT AS a3,
                        sum(CASE WHEN l3 IS NOT NULL THEN x END)::BIGINT AS b3
                 FROM lg GROUP BY event_type),
          u AS (SELECT event_type, n, s1, s2, 1::BIGINT AS lag, c1 AS ck, a1 AS ak, b1 AS bk FROM ag
                UNION ALL SELECT event_type, n, s1, s2, 2, c2, a2, b2 FROM ag
                UNION ALL SELECT event_type, n, s1, s2, 3, c3, a3, b3 FROM ag),
          f AS (SELECT event_type, lag, n, ck, ak, bk,
                       s1::DOUBLE / n::DOUBLE AS m,
                       s2::DOUBLE - s1::DOUBLE * (s1::DOUBLE / n::DOUBLE) AS den
                FROM u)
          SELECT event_type, lag, n AS n_buckets,
                 floor((CASE WHEN den > 0.0 THEN
                          (ck::DOUBLE - m * (ak + bk)::DOUBLE
                             + (n - lag)::DOUBLE * m * m) / den
                        ELSE NULL END) * 1e6 + 0.5) / 1e6 AS acf_r
          FROM f ORDER BY event_type, lag"""),

    // -- scaled periodogram per stream at candidate periods: WHICH cycle
    //    length dominates (seasonality assumes 24h; this measures 6..48h)
    //    — spectral power from exact 1e6-scaled term sums
    QueryDef("q_periodogram", (s, dir) =>
      operators.TimeSeries
        .periodogram(graft.sources.EventsSource.events(s, dir))
        .orderBy("event_type", "period"),
      // per-term (x−x̄)·cos/sin rounded 6dp then 1e6-scaled into exact
      // HUGEINT sums; 2π emitted verbatim (mirror of TimeSeries.periodogram)
      s"""WITH $DenseHourCte,
          mn AS (SELECT event_type, min(h) AS h0, count(*)::BIGINT AS n, sum(x)::BIGINT AS s1
                 FROM ser GROUP BY 1),
          pr AS (SELECT unnest([6, 8, 12, 24, 48]) AS period),
          tm AS (SELECT ser.event_type, n, period,
                        floor(((x::DOUBLE - s1::DOUBLE / n::DOUBLE)
                               * cos(${2 * math.Pi} / period * (h - h0)::DOUBLE)) * 1e6 + 0.5)::HUGEINT AS c_i,
                        floor(((x::DOUBLE - s1::DOUBLE / n::DOUBLE)
                               * sin(${2 * math.Pi} / period * (h - h0)::DOUBLE)) * 1e6 + 0.5)::HUGEINT AS s_i
                 FROM ser JOIN mn ON mn.event_type = ser.event_type CROSS JOIN pr),
          ag AS (SELECT event_type, period, max(n) AS n_buckets, sum(c_i) AS sc, sum(s_i) AS ss
                 FROM tm GROUP BY 1, 2)
          SELECT event_type, period, n_buckets,
                 floor((((sc::DOUBLE / 1e6) * (sc::DOUBLE / 1e6)
                         + (ss::DOUBLE / 1e6) * (ss::DOUBLE / 1e6))
                        / n_buckets::DOUBLE) * 1e4 + 0.5) / 1e4 AS power_r
          FROM ag ORDER BY event_type, period"""),

    // -- Hurst exponent per stream (R/S analysis): slope of ln(R/S) vs
    //    ln(block size) — long-range dependence ACF's fixed lags miss;
    //    H>0.5 means bursts cluster at every scale (provision for t^H)
    QueryDef("q_hurst", (s, dir) =>
      operators.TimeSeries
        .hurstRs(graft.sources.EventsSource.events(s, dir))
        .orderBy("event_type"),
      // full blocks only; Z_t/S fixed-order scalars over exact block sums;
      // per-block ln(R/S) and the 4-point OLS ride 1e6-scaled HUGEINT sums;
      // ln(size) literals verbatim (mirror of TimeSeries.hurstRs)
      s"""WITH $DenseHourCte,
          t0 AS (SELECT event_type, min(h) AS h0 FROM ser GROUP BY 1),
          sz AS (SELECT unnest([8, 16, 32, 64]) AS size,
                        unnest([${math.log(8.0)}, ${math.log(16.0)},
                                ${math.log(32.0)}, ${math.log(64.0)}]) AS lx),
          bse AS (SELECT ser.event_type, (h - h0) AS t, x, size, lx,
                         ((h - h0) // size) AS b
                  FROM ser JOIN t0 ON t0.event_type = ser.event_type CROSS JOIN sz),
          bs AS (SELECT event_type, size, b, count(*)::BIGINT AS n,
                        sum(x)::BIGINT AS s, sum(x * x)::BIGINT AS ss
                 FROM bse GROUP BY 1, 2, 3 HAVING count(*) = size),
          pr AS (SELECT event_type, size, lx, b, t, x,
                        row_number() OVER w AS pos, sum(x) OVER w AS pref
                 FROM bse
                 WINDOW w AS (PARTITION BY event_type, size, b ORDER BY t
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
          cd AS (SELECT pr.event_type, pr.size, pr.lx, pr.b, s, ss,
                        pref::DOUBLE - pos::DOUBLE * (s::DOUBLE / pr.size::DOUBLE) AS z
                 FROM pr JOIN bs ON bs.event_type = pr.event_type
                                AND bs.size = pr.size AND bs.b = pr.b),
          blk AS (SELECT event_type, size, lx, b,
                         max(z) - min(z) AS r,
                         sqrt((max(ss)::DOUBLE - max(s)::DOUBLE * (max(s)::DOUBLE / size::DOUBLE))
                              / size::DOUBLE) AS sdev
                  FROM cd GROUP BY 1, 2, 3, 4),
          lr AS (SELECT event_type, size, lx,
                        floor(ln(r / sdev) * 1e6 + 0.5)::HUGEINT AS l_i
                 FROM blk WHERE sdev > 0 AND r > 0),
          ys AS (SELECT event_type, size, lx, count(*)::BIGINT AS nb, sum(l_i) AS sl
                 FROM lr GROUP BY 1, 2, 3),
          yy AS (SELECT event_type, lx,
                        floor((sl::DOUBLE / 1e6 / nb::DOUBLE) * 1e6 + 0.5) / 1e6 AS y
                 FROM ys),
          fit AS (SELECT event_type, count(*)::BIGINT AS k,
                         sum(floor(lx * 1e6 + 0.5)::HUGEINT) AS fx,
                         sum(floor(y * 1e6 + 0.5)::HUGEINT) AS fy,
                         sum(floor((lx * y) * 1e6 + 0.5)::HUGEINT) AS fxy,
                         sum(floor((lx * lx) * 1e6 + 0.5)::HUGEINT) AS fxx
                  FROM yy GROUP BY 1)
          SELECT event_type, k AS n_sizes,
                 floor((CASE WHEN k > 1 AND k::DOUBLE * (fxx::DOUBLE / 1e6)
                                          - (fx::DOUBLE / 1e6) * (fx::DOUBLE / 1e6) > 0.0
                        THEN (k::DOUBLE * (fxy::DOUBLE / 1e6) - (fx::DOUBLE / 1e6) * (fy::DOUBLE / 1e6))
                             / (k::DOUBLE * (fxx::DOUBLE / 1e6) - (fx::DOUBLE / 1e6) * (fx::DOUBLE / 1e6))
                        END) * 1e4 + 0.5) / 1e4 AS hurst_r
          FROM fit ORDER BY event_type"""),

    // -- CUSUM changepoint per stream: argmax |Σ(x−x̄)| over the dense
    //    hourly series — level-shift localization a local z-window
    //    can't see; n·S_t stays integer end to end
    QueryDef("q_cusum", (s, dir) =>
      operators.TimeSeries
        .cusumChangepoint(graft.sources.EventsSource.events(s, dir))
        .orderBy("event_type"),
      // integer n·S_t = n·prefix − t·S1; total (|nS| DESC, h ASC) argmax
      // (mirror of TimeSeries.cusumChangepoint)
      s"""WITH $DenseHourCte,
          p AS (SELECT event_type, h, x,
                       sum(x) OVER (PARTITION BY event_type ORDER BY h
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pre,
                       row_number() OVER (PARTITION BY event_type ORDER BY h) AS t,
                       count(*) OVER (PARTITION BY event_type) AS n,
                       sum(x) OVER (PARTITION BY event_type) AS s1
                FROM ser),
          q AS (SELECT event_type, h, n, (n * pre - t * s1) AS ns,
                       row_number() OVER (PARTITION BY event_type
                          ORDER BY abs(n * pre - t * s1) DESC, h) AS rn
                FROM p)
          SELECT event_type, n::BIGINT AS n_buckets, h::BIGINT AS cp_hour,
                 floor((abs(ns)::DOUBLE / n::DOUBLE) * 1e6 + 0.5) / 1e6 AS mag_r
          FROM q WHERE rn = 1 ORDER BY event_type"""),

    // -- level-shift readout: segment means around the CUSUM argmax +
    //    Welch t between the segments, exact conditional sums in one
    //    partial-agg pass off the same checkpointed spine
    QueryDef("q_level_shift", (s, dir) =>
      operators.TimeSeries
        .levelShift(graft.sources.EventsSource.events(s, dir))
        .orderBy("event_type"),
      // segment exact sums around the cusum argmax; welch-discipline t
      s"""WITH $DenseHourCte,
          p AS (SELECT event_type, h, x,
                       sum(x) OVER (PARTITION BY event_type ORDER BY h
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pre,
                       row_number() OVER (PARTITION BY event_type ORDER BY h) AS t,
                       count(*) OVER (PARTITION BY event_type) AS n,
                       sum(x) OVER (PARTITION BY event_type) AS s1
                FROM ser),
          q AS (SELECT event_type, h,
                       row_number() OVER (PARTITION BY event_type
                          ORDER BY abs(n * pre - t * s1) DESC, h) AS rn
                FROM p),
          cp AS (SELECT event_type, h AS cp_hour FROM q WHERE rn = 1),
          st AS (SELECT ser.event_type, cp.cp_hour,
                        sum(CASE WHEN ser.h <= cp.cp_hour THEN 1 ELSE 0 END)::BIGINT AS n_pre,
                        sum(CASE WHEN ser.h <= cp.cp_hour THEN x ELSE 0 END)::BIGINT AS s1p,
                        sum(CASE WHEN ser.h <= cp.cp_hour THEN x * x ELSE 0 END)::BIGINT AS s2p,
                        sum(CASE WHEN ser.h > cp.cp_hour THEN 1 ELSE 0 END)::BIGINT AS n_post,
                        sum(CASE WHEN ser.h > cp.cp_hour THEN x ELSE 0 END)::BIGINT AS s1q,
                        sum(CASE WHEN ser.h > cp.cp_hour THEN x * x ELSE 0 END)::BIGINT AS s2q
                 FROM ser JOIN cp USING (event_type)
                 GROUP BY 1, 2)
          SELECT event_type, cp_hour::BIGINT AS cp_hour, n_pre, n_post,
                 floor((CASE WHEN n_pre > 0 THEN s1p::DOUBLE / n_pre END) * 1e4 + 0.5) / 1e4 AS mean_pre_r,
                 floor((CASE WHEN n_post > 0 THEN s1q::DOUBLE / n_post END) * 1e4 + 0.5) / 1e4 AS mean_post_r,
                 floor((CASE WHEN n_pre >= 2 AND n_post >= 2
                             AND (s2p::DOUBLE - s1p::DOUBLE * s1p::DOUBLE / n_pre) / (n_pre - 1) / n_pre
                               + (s2q::DOUBLE - s1q::DOUBLE * s1q::DOUBLE / n_post) / (n_post - 1) / n_post > 0.0
                        THEN (s1p::DOUBLE / n_pre - s1q::DOUBLE / n_post)
                             / sqrt((s2p::DOUBLE - s1p::DOUBLE * s1p::DOUBLE / n_pre) / (n_pre - 1) / n_pre
                                  + (s2q::DOUBLE - s1q::DOUBLE * s1q::DOUBLE / n_post) / (n_post - 1) / n_post)
                        END) * 1e4 + 0.5) / 1e4 AS t_r
          FROM st ORDER BY event_type"""),

    // -- difference-in-differences launch readout: purchase events
    //    (treated) vs everything else across the mid-month boundary —
    //    the control trend subtracts out what moved BOTH groups; four
    //    cell means from one partial-agg pass, DiD from rounded means
    QueryDef("q_diff_in_diff", (s, dir) => {
      operators.Stats.diffInDiff(
        graft.sources.EventsSource.events(s, dir)
          .withColumn("treated", col("event_type") === "purchase")
          .withColumn("post", col("ts_t") >= lit("2024-01-16").cast("timestamp")),
        "treated", "post", "value")
    },
      // four cells from one grouped pass; DiD from the ROUNDED means
      """WITH c AS (SELECT (event_type = 'purchase')::INT AS t,
                           (ts::TIMESTAMP >= TIMESTAMP '2024-01-16')::INT AS p,
                           count(*) AS n, sum(value) AS s
                    FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
         w AS (SELECT
                 max(CASE WHEN t = 0 AND p = 0 THEN n END)::BIGINT AS n_00,
                 max(CASE WHEN t = 0 AND p = 1 THEN n END)::BIGINT AS n_01,
                 max(CASE WHEN t = 1 AND p = 0 THEN n END)::BIGINT AS n_10,
                 max(CASE WHEN t = 1 AND p = 1 THEN n END)::BIGINT AS n_11,
                 floor((max(CASE WHEN t = 0 AND p = 0 THEN s / n END)) * 1e4 + 0.5) / 1e4 AS m_00_r,
                 floor((max(CASE WHEN t = 0 AND p = 1 THEN s / n END)) * 1e4 + 0.5) / 1e4 AS m_01_r,
                 floor((max(CASE WHEN t = 1 AND p = 0 THEN s / n END)) * 1e4 + 0.5) / 1e4 AS m_10_r,
                 floor((max(CASE WHEN t = 1 AND p = 1 THEN s / n END)) * 1e4 + 0.5) / 1e4 AS m_11_r
               FROM c)
         SELECT n_00, n_01, n_10, n_11, m_00_r, m_01_r, m_10_r, m_11_r,
                floor(((m_11_r - m_10_r) - (m_01_r - m_00_r)) * 1e4 + 0.5) / 1e4 AS did_r
         FROM w"""),

    // -- experiment sizing: per-source minimum detectable effect on mean
    //    doc length at α=0.05 / power 0.8 — "is this group big enough to
    //    test on"; exact-sum variance, shared z constants
    QueryDef("q_mde", (s, dir) => {
      operators.Stats
        .minDetectableEffect(t(s, dir, "documents"), "source", "n_chars")
        .orderBy("source")
    },
      // exact-HUGEINT sums (the welch discipline), shared z-sum constant
      s"""WITH g AS (SELECT source, count(*)::BIGINT AS n,
                            sum(n_chars::HUGEINT)::DOUBLE AS s1d,
                            sum((n_chars::HUGEINT) * (n_chars::HUGEINT))::DOUBLE AS s2d
                     FROM documents GROUP BY source HAVING count(*) >= 2),
          v AS (SELECT source, n, s1d / n AS m,
                       (s2d - s1d * s1d / n) / (n - 1) AS vv
                FROM g),
          f AS (SELECT source, n,
                       floor(m * 1e4 + 0.5) / 1e4 AS mean_r,
                       floor(vv * 1e4 + 0.5) / 1e4 AS var_r,
                       floor((${1.959963984540054 + 0.8416212335729142} * sqrt(2.0 * vv / n)) * 1e4 + 0.5) / 1e4 AS mde_r
                FROM v WHERE vv > 0.0 AND m > 0.0)
          SELECT source, n, mean_r, var_r, mde_r,
                 floor((mde_r / mean_r) * 1e6 + 0.5) / 1e6 AS mde_rel_r
          FROM f ORDER BY source"""),

    // -- CUPED variance reduction: per-user pre-period mean value as the
    //    covariate for the post-period metric — θ, var(Y), var(Y') and
    //    the ρ² reduction from one pass of five sufficient sums (the
    //    sample-size lever every experiment platform ships)
    QueryDef("q_cuped", (s, dir) => {
      val e = graft.sources.EventsSource.events(s, dir)
        .where(col("value").isNotNull)
      val cut = lit("2024-01-16").cast("timestamp")
      val pre = e.where(col("ts_t") < cut)
        .groupBy(col("user_id")).agg(avg(col("value")).as("x"))
      val post = e.where(col("ts_t") >= cut)
        .groupBy(col("user_id")).agg(avg(col("value")).as("y"))
      operators.Stats.cupedAdjust(pre.join(post, Seq("user_id")), "x", "y")
    },
      // five sufficient sums as EXACT integer (HUGEINT) additions of the
      // 6-dp-rounded per-user means scaled by 1e6 (floor(v*1e6+0.5) is the
      // pround numerator) — partial-agg-order-proof on both engines; the
      // scale factors divide back out in the same scalar double op order
      """WITH pre AS (SELECT user_id,
                             floor(avg(value) * 1e6 + 0.5)::HUGEINT AS xi
                      FROM events WHERE value IS NOT NULL AND ts::TIMESTAMP < TIMESTAMP '2024-01-16'
                      GROUP BY user_id),
         post AS (SELECT user_id,
                         floor(avg(value) * 1e6 + 0.5)::HUGEINT AS yi
                  FROM events WHERE value IS NOT NULL AND ts::TIMESTAMP >= TIMESTAMP '2024-01-16'
                  GROUP BY user_id),
         j AS (SELECT xi, yi FROM pre JOIN post USING (user_id)),
         s AS (SELECT count(*)::BIGINT AS n,
                      sum(xi) AS sx, sum(yi) AS sy,
                      sum(xi * xi) AS sxx, sum(yi * yi) AS syy, sum(xi * yi) AS sxy
               FROM j),
         v AS (SELECT n,
                      (sxx::DOUBLE / 1e12 - (sx::DOUBLE / 1e6) * (sx::DOUBLE / 1e6) / n) / (n - 1) AS vx,
                      (syy::DOUBLE / 1e12 - (sy::DOUBLE / 1e6) * (sy::DOUBLE / 1e6) / n) / (n - 1) AS vy,
                      (sxy::DOUBLE / 1e12 - (sx::DOUBLE / 1e6) * (sy::DOUBLE / 1e6) / n) / (n - 1) AS cxy
               FROM s WHERE n >= 2),
         r AS (SELECT n,
                      floor((CASE WHEN vx > 0 THEN cxy / vx ELSE 0.0 END) * 1e6 + 0.5) / 1e6 AS theta_r,
                      floor((vy) * 1e6 + 0.5) / 1e6 AS var_y_r,
                      floor((CASE WHEN vx > 0 THEN vy - cxy * cxy / vx ELSE vy END) * 1e6 + 0.5) / 1e6 AS var_adj_r
               FROM v)
         SELECT n, theta_r, var_y_r, var_adj_r,
                floor((CASE WHEN var_y_r > 0 THEN 1.0 - var_adj_r / var_y_r ELSE 0.0 END) * 1e4 + 0.5) / 1e4 AS reduction_r
         FROM r"""),

    // -- hour-of-day seasonality (one-way ANOVA η² per event type):
    //    strength = 1 − SS_within/SS_total over observed hourly buckets
    //    grouped by hour-of-day, plus the peak hour — "is volume
    //    schedule-driven?" (burstiness' periodic complement). Exact
    //    integer sufficient statistics; ≤24-row combine per key.
    QueryDef("q_seasonality", (s, dir) =>
      operators.TimeSeries
        .seasonality(graft.sources.EventsSource.events(s, dir))
        .orderBy("event_type"),
      // η² from exact per-hod integer sufficient statistics; peak via
      // (mean DESC, hod) row_number; strength from the double SS ratio
      """WITH b AS (SELECT event_type, strftime(ts::TIMESTAMP, '%Y-%m-%d %H') AS bkt,
                           extract(hour FROM ts::TIMESTAMP)::INT AS hod, count(*) AS c
                    FROM events GROUP BY 1, 2, 3),
         h AS (SELECT event_type, hod, count(*) AS nh, sum(c) AS s1, sum(c * c) AS s2
               FROM b GROUP BY 1, 2),
         m AS (SELECT event_type, hod, nh, s1, s2,
                      floor((s1::DOUBLE / nh) * 1e6 + 0.5) / 1e6 AS mean_r FROM h),
         pk AS (SELECT event_type, hod AS peak_hod, mean_r AS peak_mean_r FROM (
                  SELECT event_type, hod, mean_r,
                         row_number() OVER (PARTITION BY event_type
                                            ORDER BY mean_r DESC, hod) AS rn
                  FROM m) z WHERE rn = 1),
         g AS (SELECT event_type, sum(nh)::BIGINT AS n_buckets,
                      sum(s1)::BIGINT AS t1, sum(s2)::BIGINT AS t2,
                      sum(s2::DOUBLE - s1::DOUBLE * s1::DOUBLE / nh) AS ssw
               FROM m GROUP BY 1),
         f AS (SELECT g.event_type, n_buckets, peak_hod, peak_mean_r, ssw,
                      t2::DOUBLE - t1::DOUBLE * t1::DOUBLE / n_buckets AS sst
               FROM g JOIN pk USING (event_type))
         SELECT event_type, n_buckets, peak_hod, peak_mean_r,
                floor((CASE WHEN sst > 0.0 THEN 1.0 - ssw / sst ELSE 0.0 END) * 1e4 + 0.5) / 1e4 AS strength_r
         FROM f ORDER BY event_type"""),

    // -- split-conformal coverage audit: q̂ = ⌈(n_cal+1)(1−α)⌉-th
    //    smallest calibration |conf − label| via the chunked-prefix
    //    order-statistic (no residual-sized window), deterministic hash
    //    split, eval coverage vs the 1−α guarantee — the "is 90% really
    //    90%" audit on the quality classifier's confidences
    QueryDef("q_conformal", (s, dir) => {
      val ws = split(col("text"), "\\s+")
      // coalesce: see q_auc — folds conformalCoverage's isnotnull guard
      val scored = t(s, dir, "documents").select(
        col("doc_id"),
        coalesce(round(TextAnalysis.hashedLinearScore(col("text"), buckets = 512), 6),
          lit(0.0)).as("score"),
        (size(filter(ws, x => x.rlike("[A-Za-z]"))).cast("double")
          / size(ws).cast("double") >= 0.8).cast("int").as("label"))
        // the divide makes conf statically nullable again — re-pin it
        .withColumn("conf", coalesce((col("score") + 1.0) / 2.0, lit(0.0)))
      operators.Stats.conformalCoverage(scored, "conf", "label", "doc_id")
    },
      // split-conformal replay: same md5 split threshold, same 6-dp
      // residuals, k-th order statistic via row_number (the oracle may
      // window what the Spark plan does with chunked prefixes)
      s"""WITH $ToksArrCte,
          base AS (SELECT d.doc_id,
                     CASE WHEN len(t.toks) = 0 THEN 0.0
                          ELSE floor((list_sum(list_transform(t.toks,
                                 w -> (('0x' || substr(md5(w), 1, 8))::BIGINT % 512) % 101 - 50))::DOUBLE
                               / (50.0 * len(t.toks))) * 1e6 + 0.5) / 1e6 END AS score,
                     (len(list_filter(regexp_split_to_array(d.text, '\\s+'),
                          x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
                      / len(regexp_split_to_array(d.text, '\\s+')) >= 0.8)::INT AS label
                   FROM documents d JOIN toks_arr t USING (doc_id)),
          s AS (SELECT doc_id,
                       floor(abs((score + 1.0) / 2.0 - label) * 1e6 + 0.5) / 1e6 AS r,
                       ('0x' || substr(md5('conformal:' || doc_id::VARCHAR), 1, 8))::BIGINT
                         < ${operators.Sampling.threshold(0.8)} AS is_cal
                FROM base),
          cal AS (SELECT r FROM s WHERE is_cal),
          n AS (SELECT count(*)::BIGINT AS n_cal FROM cal),
          k AS (SELECT n_cal, ceil((n_cal + 1) * ${1.0 - 0.1}) AS k FROM n),
          q AS (SELECT r AS qhat_r FROM (
                  SELECT r, row_number() OVER (ORDER BY r) AS rn FROM cal) z
                CROSS JOIN k WHERE rn >= k ORDER BY r LIMIT 1),
          e AS (SELECT r FROM s WHERE NOT is_cal),
          ne AS (SELECT count(*)::BIGINT AS n_eval FROM e),
          cov AS (SELECT floor(avg((e.r <= q.qhat_r)::INT) * 1e4 + 0.5) / 1e4 AS coverage_r
                  FROM e CROSS JOIN q)
          SELECT n_cal, n_eval, qhat_r, ${1.0 - 0.1} AS target, coverage_r
          FROM k CROSS JOIN ne CROSS JOIN q CROSS JOIN cov"""),

    // -- heavy hitters via the MERGEABLE SpaceSaving sketch (native
    //    TypedImperativeAggregate, spacesaving_topk): capacity-bounded
    //    per-task state, partial sketches merge up the exchange — nothing
    //    key-cardinality-sized ever shuffles, the raw-stream shape at
    //    100 TB. Capacity (64) exceeds this corpus's vocabulary, so the
    //    sketch is provably exact here (no eviction, err = 0) and the
    //    oracle is the exact count; eviction-mode error bounds and the
    //    overestimate invariant are pinned in SpaceSavingSpec.
    QueryDef("q_heavy_keys_sketch", (s, dir) => {
      Tokenize.tokens(t(s, dir, "documents"), "text", Seq("doc_id"))
        .agg(expr("spacesaving_topk(word, 64)").as("sk"))
        .select(explode(col("sk")).as("e"))
        .select(col("e.key").as("word"), col("e.est").as("cnt"), col("e.err").as("err"))
        .orderBy(desc("cnt"), asc("word"))
    },
      // capacity > vocabulary => the sketch never evicts and is exact
      s"""WITH $TokCte
          SELECT word, count(*) AS cnt, 0::BIGINT AS err
          FROM tok GROUP BY word ORDER BY cnt DESC, word"""),

    // -- point-frequency sketch via Count-Min (native cms_counts
    //    aggregate): a 4×512 counter matrix, row-salted md5 buckets,
    //    estimate = min over rows — never an undercount. One pass
    //    computes the sketch AND the exact probe counts (conditional
    //    sums in the same agg), so the overcount column is audited
    //    in-query. Element-wise-add merge is order-independent, so the
    //    matrix is deterministic under any partitioning and the oracle
    //    rebuilds every counter in SQL (unlike Spark's built-in
    //    count_min_sketch, whose murmur layout is opaque). At 100 TB
    //    the exact per-key count needs a key-cardinality shuffle; this
    //    ships one 2048-long array up the exchange.
    QueryDef("q_cms_freq", (s, dir) => {
      val D = 4; val W = 512
      val probes = Seq("the", "of", "and", "data", "zyzzyva")
      val toks = Tokenize.tokens(t(s, dir, "documents").select("doc_id", "text"),
        "text", Seq("doc_id"))
      val aggs = expr(s"cms_counts(word, $D, $W)").as("m") +:
        probes.map(p => sum(when(col("word") === p, 1L).otherwise(0L)).as(s"x_$p"))
      val one = toks.agg(aggs.head, aggs.tail: _*)
      val rows = probes.map { p =>
        val cells = (0 until D).map { d =>
          element_at(col("m"), d * W + graft.plans.CmsSketch.bucket(
            d, org.apache.spark.unsafe.types.UTF8String.fromString(p), W) + 1)
        }
        struct(lit(p).as("word"), least(cells: _*).as("est"), col(s"x_$p").as("exact"))
      }
      one.select(explode(array(rows: _*)).as("e"))
        .select(col("e.word").as("word"), col("e.est").as("est"),
          col("e.exact").as("exact"), (col("e.est") - col("e.exact")).as("overcount"))
        .orderBy("word")
    },
      // the CMS is deterministic, so the oracle rebuilds the counter matrix:
      // same row-salted 60-bit md5-prefix bucket, same min-probe estimate
      s"""WITH $TokCte,
          ds AS (SELECT unnest(range(4)) AS d),
          b AS (SELECT ds.d,
                       ('0x' || substr(md5(ds.d::VARCHAR || ':' || word), 1, 15))::BIGINT % 512 AS bkt,
                       count(*) AS c
                FROM tok CROSS JOIN ds GROUP BY 1, 2),
          p AS (SELECT unnest(['the','of','and','data','zyzzyva']) AS word),
          pb AS (SELECT p.word, ds.d,
                        ('0x' || substr(md5(ds.d::VARCHAR || ':' || p.word), 1, 15))::BIGINT % 512 AS bkt
                 FROM p CROSS JOIN ds),
          e AS (SELECT pb.word, min(coalesce(b.c, 0)) AS est
                FROM pb LEFT JOIN b ON pb.d = b.d AND pb.bkt = b.bkt GROUP BY 1),
          x AS (SELECT word, count(*) AS exact FROM tok GROUP BY 1)
          SELECT e.word, e.est, coalesce(x.exact, 0) AS exact,
                 e.est - coalesce(x.exact, 0) AS overcount
          FROM e LEFT JOIN x USING (word) ORDER BY word"""),

    // -- sketch-based JOIN-SIZE estimate (CMS inner product, the AGMS
    //    lineage): all events × purchase events on user_id — the
    //    pre-shuffle cardinality check a planner runs from two
    //    constant-state sketch passes, audited against the exact
    //    Σ n_l(k)·n_r(k) in the same row. Overcount-only by construction.
    QueryDef("q_join_size_est", (s, dir) => {
      val ev = graft.sources.EventsSource.events(s, dir)
      operators.Stats.cmsJoinSize(
        ev, ev.where(col("event_type") === "purchase"), "user_id")
    },
      // CMS inner-product join size: identical md5-salted buckets replayed
      // per depth row, bucket-wise dot products, min over rows; truth from
      // the exact per-key count join — all integer until the final ratio
      """WITH ea AS (SELECT user_id::VARCHAR AS k FROM events),
         eb AS (SELECT user_id::VARCHAR AS k FROM events WHERE event_type = 'purchase'),
         ds AS (SELECT unnest(range(4)) AS d),
         ba AS (SELECT ds.d,
                       ('0x' || substr(md5(ds.d::VARCHAR || ':' || k), 1, 15))::BIGINT % 512 AS bkt,
                       count(*) AS c
                FROM ea CROSS JOIN ds GROUP BY 1, 2),
         bb AS (SELECT ds.d,
                       ('0x' || substr(md5(ds.d::VARCHAR || ':' || k), 1, 15))::BIGINT % 512 AS bkt,
                       count(*) AS c
                FROM eb CROSS JOIN ds GROUP BY 1, 2),
         dot AS (SELECT ba.d, sum(ba.c * bb.c)::BIGINT AS dp
                 FROM ba JOIN bb ON ba.d = bb.d AND ba.bkt = bb.bkt GROUP BY 1),
         est AS (SELECT min(dp)::BIGINT AS est_size FROM dot),
         tru AS (SELECT coalesce(sum(ca.c * cb.c), 0)::BIGINT AS true_size
                 FROM (SELECT k, count(*) AS c FROM ea GROUP BY 1) ca
                 JOIN (SELECT k, count(*) AS c FROM eb GROUP BY 1) cb USING (k)),
         n AS (SELECT (SELECT count(*) FROM ea)::BIGINT AS n_left,
                      (SELECT count(*) FROM eb)::BIGINT AS n_right)
         SELECT n_left, n_right, true_size, est_size,
                CASE WHEN true_size > 0
                     THEN floor((est_size::DOUBLE / true_size) * 1e4 + 0.5) / 1e4
                END AS over_r
         FROM n CROSS JOIN tru CROSS JOIN est"""),

    // -- the CMS GROUPED (per-lang 4×256 sketches, like the grouped
    //    KMV/SpaceSaving forms): partial matrices merge per (group, task);
    //    per-lang probe estimates vs the same-pass exact counts.
    QueryDef("q_cms_per_lang", (s, dir) => {
      val D = 4; val W = 256
      val probes = Seq("the", "data")
      val toks = Tokenize.tokens(t(s, dir, "documents").select("doc_id", "lang", "text"),
        "text", Seq("doc_id", "lang"))
      val aggs = expr(s"cms_counts(word, $D, $W)").as("m") +:
        probes.map(p => sum(when(col("word") === p, 1L).otherwise(0L)).as(s"x_$p"))
      val g = toks.groupBy(col("lang")).agg(aggs.head, aggs.tail: _*)
      val rows = probes.map { p =>
        val cells = (0 until D).map { d =>
          element_at(col("m"), d * W + graft.plans.CmsSketch.bucket(
            d, org.apache.spark.unsafe.types.UTF8String.fromString(p), W) + 1)
        }
        struct(lit(p).as("word"), least(cells: _*).as("est"), col(s"x_$p").as("exact"))
      }
      g.select(col("lang"), explode(array(rows: _*)).as("e"))
        .select(col("lang"), col("e.word").as("word"), col("e.est").as("est"),
          col("e.exact").as("exact"), (col("e.est") - col("e.exact")).as("overcount"))
        .orderBy("lang", "word")
    },
      // grouped CMS: per-lang counter matrices rebuilt the same way
      """WITH tk AS (SELECT lang,
                            regexp_replace(lower(unnest(regexp_split_to_array(text, '\s+'))), '[^a-z]', '', 'g') AS w
                     FROM documents),
          tok2 AS (SELECT lang, w AS word FROM tk WHERE w <> ''),
          ds AS (SELECT unnest(range(4)) AS d),
          b AS (SELECT lang, ds.d,
                       ('0x' || substr(md5(ds.d::VARCHAR || ':' || word), 1, 15))::BIGINT % 256 AS bkt,
                       count(*) AS c
                FROM tok2 CROSS JOIN ds GROUP BY 1, 2, 3),
          p AS (SELECT unnest(['the', 'data']) AS word),
          langs AS (SELECT DISTINCT lang FROM tok2),
          pb AS (SELECT langs.lang, p.word, ds.d,
                        ('0x' || substr(md5(ds.d::VARCHAR || ':' || p.word), 1, 15))::BIGINT % 256 AS bkt
                 FROM langs CROSS JOIN p CROSS JOIN ds),
          e AS (SELECT pb.lang, pb.word, min(coalesce(b.c, 0)) AS est
                FROM pb LEFT JOIN b ON pb.lang = b.lang AND pb.d = b.d AND pb.bkt = b.bkt
                GROUP BY 1, 2),
          x AS (SELECT lang, word, count(*) AS exact FROM tok2 GROUP BY 1, 2)
          SELECT e.lang, e.word, e.est, coalesce(x.exact, 0) AS exact,
                 e.est - coalesce(x.exact, 0) AS overcount
          FROM e LEFT JOIN x ON x.lang = e.lang AND x.word = e.word
          ORDER BY e.lang, e.word"""),

    // -- distinct-count sketch via KMV (native kmv_ndv aggregate):
    //    bottom-64-by-md5 distinct user keys + the (k−1)/R estimate.
    //    Deterministic under ANY partitioning/merge order (bottom-k of a
    //    fixed hash), so the oracle replays the sketch EXACTLY in SQL —
    //    estimate and sample both — unlike approx_count_distinct's opaque
    //    murmur registers (q_hll_ndv's md5 HLL replays too). State
    //    is 64 entries per task; nothing key-cardinality-sized shuffles.
    QueryDef("q_ndv_sketch", (s, dir) => {
      graft.sources.EventsSource.events(s, dir)
        .selectExpr("concat('u', cast(user_id AS string)) AS k")
        .agg(expr("kmv_ndv(k, 64)").as("r"))
        // the sample travels as ONE space-joined string (scalar, not
        // array<string>): the sample VALUES are what this row pins, but
        // the driver's comparator sorts columns and can't hash arrays
        .select(col("r.ndv_est").as("ndv_est"),
          array_join(col("r.sample"), " ").as("sample"))
    },
      // the KMV sketch is deterministic, so the oracle replays it exactly:
      // same 60-bit md5-prefix hash, same bottom-64, same (k-1)/R estimate
      """WITH h AS (SELECT DISTINCT 'u' || user_id::VARCHAR AS key,
                           ('0x' || substr(md5('u' || user_id::VARCHAR), 1, 15))::BIGINT AS h
                    FROM events),
            b AS (SELECT key, h FROM h ORDER BY h LIMIT 64),
            e AS (SELECT max(h) AS kth, count(*) AS m FROM b)
          SELECT CASE WHEN m < 64 THEN m::DOUBLE  -- below k the sketch is exact
                      ELSE floor((63.0 / (kth::DOUBLE / 1152921504606846976.0)) * 1e4 + 0.5) / 1e4
                 END AS ndv_est,
                 (SELECT string_agg(key, ' ' ORDER BY h) FROM b) AS sample
          FROM e"""),

    // -- HyperLogLog on the same key stream (native hll_ndv aggregate):
    //    2^10 byte registers, element-wise-max merge — constant-BYTES
    //    state where KMV holds k full keys; built on the md5-60 hash, so
    //    the ORACLE REPLAYS THE REGISTERS AND ESTIMATE IN SQL (the thing
    //    approx_count_distinct can't do), harmonic sum kept as an exact
    //    64-bit integer (≤ 2^61 by construction) on both engines
    QueryDef("q_hll_ndv", (s, dir) => {
      graft.sources.EventsSource.events(s, dir)
        .selectExpr("concat('u', cast(user_id AS string)) AS k")
        .agg(expr("hll_ndv(k, 10)").as("r"))
        .select(col("r.ndv_est").as("ndv_est"),
          col("r.n_zero_regs").as("n_zero_regs"))
    },
      // HLL register replay: idx = top 10 bits of md5-60, rank via exact
      // binary-string length (never floating log2), harmonic sum as the
      // exact BIGINT Σ 2^(51−M_j) with absent registers at 2^51 each,
      // linear-counting fallback mirrored
      """WITH h AS (SELECT DISTINCT ('0x' || substr(md5('u' || user_id::VARCHAR), 1, 15))::BIGINT AS h
                    FROM events),
          rr AS (SELECT h >> 50 AS idx,
                        CASE WHEN (h & ((1::BIGINT << 50) - 1)) = 0 THEN 51
                             ELSE 50 - (length(printf('%b', h & ((1::BIGINT << 50) - 1))) - 1)
                        END AS rank
                 FROM h),
          regs AS (SELECT idx, max(rank) AS mj FROM rr GROUP BY idx),
          agg AS (SELECT sum((1::BIGINT << (51 - mj)))::BIGINT AS s,
                         count(*)::BIGINT AS present
                  FROM regs),
          fin AS (SELECT (s + (1024 - present) * (1::BIGINT << 51))::BIGINT AS sumint,
                         (1024 - present)::INT AS zeros
                  FROM agg),
          raw AS (SELECT (0.7213 / (1.0 + 1.079 / 1024.0)) * 1024.0 * 1024.0
                         * 2251799813685248.0 / sumint::DOUBLE AS raw, zeros
                  FROM fin)
          SELECT CASE WHEN raw <= 2560.0 AND zeros > 0
                      THEN floor((1024.0 * ln(1024.0 / zeros)) * 1e4 + 0.5) / 1e4
                      ELSE floor(raw * 1e4 + 0.5) / 1e4 END AS ndv_est,
                 zeros AS n_zero_regs
          FROM raw"""),

    // -- the HLL sketch GROUPED: per-source vocabulary NDV at p=10 —
    //    the register-based twin of q_ndv_per_source (KMV), completing
    //    the mergeable-sketch family's grouped forms. Partial register
    //    arrays merge element-wise-max per (group, task); state is a
    //    constant 1 KiB per group regardless of vocabulary size, which
    //    is exactly why production per-tenant NDV dashboards standardize
    //    on registers. Oracle replays registers AND estimate per group.
    QueryDef("q_hll_per_source", (s, dir) => {
      Tokenize.tokens(t(s, dir, "documents").select("doc_id", "source", "text"),
          "text", Seq("doc_id", "source"))
        .groupBy(col("source"))
        .agg(expr("hll_ndv(word, 10)").as("r"))
        .select(col("source"), col("r.ndv_est").as("ndv_est"),
          col("r.n_zero_regs").as("n_zero_regs"))
        .orderBy("source")
    },
      // grouped HLL register replay: same md5-60 routing as q_hll_ndv but
      // registers, harmonic sum, and fallback all keyed per source
      """WITH tk AS (SELECT source,
                            regexp_replace(lower(unnest(regexp_split_to_array(text, '\s+'))), '[^a-z]', '', 'g') AS w
                     FROM documents),
          tok2 AS (SELECT source, w AS word FROM tk WHERE w <> ''),
          h AS (SELECT DISTINCT source,
                       ('0x' || substr(md5(word), 1, 15))::BIGINT AS h
                FROM tok2),
          rr AS (SELECT source, h >> 50 AS idx,
                        CASE WHEN (h & ((1::BIGINT << 50) - 1)) = 0 THEN 51
                             ELSE 50 - (length(printf('%b', h & ((1::BIGINT << 50) - 1))) - 1)
                        END AS rank
                 FROM h),
          regs AS (SELECT source, idx, max(rank) AS mj FROM rr GROUP BY source, idx),
          agg AS (SELECT source, sum((1::BIGINT << (51 - mj)))::BIGINT AS s,
                         count(*)::BIGINT AS present
                  FROM regs GROUP BY source),
          fin AS (SELECT source, (s + (1024 - present) * (1::BIGINT << 51))::BIGINT AS sumint,
                         (1024 - present)::INT AS zeros
                  FROM agg),
          raw AS (SELECT source, (0.7213 / (1.0 + 1.079 / 1024.0)) * 1024.0 * 1024.0
                         * 2251799813685248.0 / sumint::DOUBLE AS raw, zeros
                  FROM fin)
          SELECT source,
                 CASE WHEN raw <= 2560.0 AND zeros > 0
                      THEN floor((1024.0 * ln(1024.0 / zeros)) * 1e4 + 0.5) / 1e4
                      ELSE floor(raw * 1e4 + 0.5) / 1e4 END AS ndv_est,
                 zeros AS n_zero_regs
          FROM raw ORDER BY source"""),

    // -- the SpaceSaving sketch GROUPED: top event types per hour bucket
    //    (capacity 32 > |event types|, so every group is exact and the
    //    oracle replays it; under eviction the SpaceSavingSpec bounds
    //    apply per group). Partial sketches merge per (group, task).
    QueryDef("q_heavy_keys_per_hour", (s, dir) => {
      graft.sources.EventsSource.events(s, dir)
        .withColumn("hour_bucket", date_format(col("ts_t"), "yyyy-MM-dd HH"))
        .groupBy(col("hour_bucket"))
        .agg(expr("spacesaving_topk(event_type, 32)").as("sk"))
        .select(col("hour_bucket"), explode(col("sk")).as("e"))
        .select(col("hour_bucket"), col("e.key").as("event_type"),
          col("e.est").as("cnt"), col("e.err").as("err"))
        .orderBy(col("hour_bucket"), desc("cnt"), col("event_type"))
    },
      """SELECT strftime(ts::TIMESTAMP, '%Y-%m-%d %H') AS hour_bucket,
                event_type, count(*) AS cnt, 0::BIGINT AS err
         FROM events
         GROUP BY 1, 2 ORDER BY hour_bucket, cnt DESC, event_type"""),

    // -- the KMV sketch as a GROUPED aggregate: per-source vocabulary NDV
    //    estimate (k=16 < vocab, so every group runs in estimation mode)
    //    — still exactly replayable because bottom-k-by-md5 is
    //    deterministic per group; partial sketches merge per (group, task)
    QueryDef("q_ndv_per_source", (s, dir) => {
      Tokenize.tokens(t(s, dir, "documents").select("doc_id", "source", "text"),
          "text", Seq("doc_id", "source"))
        .groupBy(col("source"))
        .agg(expr("kmv_ndv(word, 16)").as("r"))
        .select(col("source"), col("r.ndv_est").as("ndv_est"),
          size(col("r.sample")).cast("long").as("n_sample"))
        .orderBy("source")
    },
      ndvPerSourceSql),

    // -- the BOTTOM-K row sample as a GROUPED quantile sketch: per-source
    //    quartiles/p90 of document length read off a k=64 deterministic
    //    uniform sample (md5-bottom-k by doc_id, value tiebreak) — the
    //    mergeable quantile member of the sketch family; k-bounded state
    //    per (group, task), partial samples merge up the exchange, and
    //    the md5 determinism means sample AND estimates replay exactly
    //    in the oracle even in eviction mode (sources here have ~100
    //    docs > k=64, so this IS eviction mode)
    QueryDef("q_sample_quantiles", (s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(expr("bottomk_sample(cast(doc_id AS string), cast(n_chars AS double), 64)").as("sm"))
        .select(col("source"), array_sort(col("sm")).as("ss"))
        .select(col("source"), col("ss"),
          explode(array(lit(0.25), lit(0.5), lit(0.75), lit(0.9))).as("q"))
        .select(col("source"), col("q"),
          element_at(col("ss"),
            greatest(lit(1), ceil(col("q") * size(col("ss"))).cast("int"))).as("est"),
          size(col("ss")).cast("long").as("n_sample"))
        .orderBy("source", "q")
    },
      // the bottom-k row sample is deterministic (same 60-bit md5-prefix
      // hash as KMV, (h, v) tiebreak), so the oracle replays the SAMPLE —
      // and therefore every quantile estimate — exactly, in eviction mode
      """WITH s AS (
           SELECT source, n_chars::DOUBLE AS v,
                  ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS h
           FROM documents
           QUALIFY row_number() OVER (PARTITION BY source ORDER BY h, v) <= 64),
         g AS (SELECT source, list(v ORDER BY v) AS ss, count(*) AS n FROM s GROUP BY source),
         qs AS (SELECT source, ss, n, unnest([0.25, 0.5, 0.75, 0.9]) AS q FROM g)
         SELECT source, q, ss[greatest(1, ceil(q * n)::INT)] AS est, n::BIGINT AS n_sample
         FROM qs ORDER BY source, q"""),

    // -- per-HOUR value quantiles from grouped bottom-k samples: p50/p95
    //    of the event value per hour bucket — q_heavy_keys_per_hour's
    //    quantile sibling (per-window heavy keys there, per-window value
    //    distribution here); k=32 sample per bucket, partial samples
    //    merge per (bucket, task), estimates replay exactly
    QueryDef("q_quantiles_per_hour", (s, dir) => {
      graft.sources.EventsSource.events(s, dir)
        .where(col("value").isNotNull)
        .withColumn("hour_bucket", date_format(col("ts_t"), "yyyy-MM-dd HH"))
        .groupBy(col("hour_bucket"))
        .agg(expr("bottomk_sample(cast(event_id AS string), value, 32)").as("sm"))
        .select(col("hour_bucket"), array_sort(col("sm")).as("ss"))
        .select(col("hour_bucket"), explode(array(lit(0.5), lit(0.95))).as("q"), col("ss"))
        .select(col("hour_bucket"), col("q"),
          element_at(col("ss"),
            greatest(lit(1), ceil(col("q") * size(col("ss"))).cast("int"))).as("est"),
          size(col("ss")).cast("long").as("n_sample"))
        .orderBy("hour_bucket", "q")
    },
      // grouped bottom-32 per hour bucket, same QUALIFY replay per group
      """WITH s AS (
           SELECT strftime(ts::TIMESTAMP, '%Y-%m-%d %H') AS hour_bucket,
                  value AS v,
                  ('0x' || substr(md5(event_id::VARCHAR), 1, 15))::BIGINT AS h
           FROM events WHERE value IS NOT NULL
           QUALIFY row_number() OVER (PARTITION BY hour_bucket ORDER BY h, v) <= 32),
         g AS (SELECT hour_bucket, list(v ORDER BY v) AS ss, count(*) AS n
               FROM s GROUP BY hour_bucket),
         qs AS (SELECT hour_bucket, ss, n, unnest([0.5, 0.95]) AS q FROM g)
         SELECT hour_bucket, q, ss[greatest(1, ceil(q * n)::INT)] AS est, n::BIGINT AS n_sample
         FROM qs ORDER BY hour_bucket, q"""),

    // -- QQ drift read off two bottom-k samples: the decile table of
    //    q_qq_drift computed WITHOUT the exact full-data percentile pass
    //    — the 100 TB form (exact percentile() buffers value mass per
    //    group; two k=128 samples ship 128 doubles each up one exchange).
    //    Coordinated md5 hashing keeps both snapshots' samples
    //    deterministic, so the oracle replays estimate-for-estimate.
    QueryDef("q_qq_drift_sketch", (s, dir) => {
      val docs = t(s, dir, "documents")
      def sk(snapshot: org.apache.spark.sql.DataFrame) = snapshot
        .agg(expr("bottomk_sample(cast(doc_id AS string), cast(n_chars AS double), 128)").as("sm"))
        .select(array_sort(col("sm")).as("ss"), size(col("sm")).as("n"))
      val r = sk(docs.where(col("doc_id") % 2 === 0)).select(col("ss").as("rs"), col("n").as("rn"))
      val c = sk(docs.where(col("doc_id") % 2 === 1)).select(col("ss").as("cs"), col("n").as("cn"))
      r.crossJoin(c)
        .select(explode(array((1 to 9).map(lit): _*)).as("decile"),
          col("rs"), col("rn"), col("cs"), col("cn"))
        .select(col("decile"),
          element_at(col("rs"),
            greatest(lit(1), ceil(col("decile") / lit(10.0) * col("rn")).cast("int"))).as("ref_q"),
          element_at(col("cs"),
            greatest(lit(1), ceil(col("decile") / lit(10.0) * col("cn")).cast("int"))).as("cur_q"))
        .withColumn("delta", col("cur_q") - col("ref_q"))
        .orderBy("decile")
    },
      // the sample-based QQ drift replays exactly too: both snapshots'
      // bottom-128 samples rebuilt via QUALIFY, same disc-quantile indexing
      """WITH r AS (SELECT n_chars::DOUBLE AS v,
                           ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS h
                    FROM documents WHERE doc_id % 2 = 0
                    QUALIFY row_number() OVER (ORDER BY h, v) <= 128),
         rg AS (SELECT list(v ORDER BY v) AS rs, count(*) AS rn FROM r),
         c AS (SELECT n_chars::DOUBLE AS v,
                      ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS h
               FROM documents WHERE doc_id % 2 = 1
               QUALIFY row_number() OVER (ORDER BY h, v) <= 128),
         cg AS (SELECT list(v ORDER BY v) AS cs, count(*) AS cn FROM c),
         d AS (SELECT unnest([1, 2, 3, 4, 5, 6, 7, 8, 9]) AS decile, rs, rn, cs, cn
               FROM rg CROSS JOIN cg)
         SELECT decile,
                rs[greatest(1, ceil(decile / 10.0 * rn)::INT)] AS ref_q,
                cs[greatest(1, ceil(decile / 10.0 * cn)::INT)] AS cur_q,
                cs[greatest(1, ceil(decile / 10.0 * cn)::INT)]
                  - rs[greatest(1, ceil(decile / 10.0 * rn)::INT)] AS delta
         FROM d ORDER BY decile"""),

    // -- INCREMENTAL sketch-store maintenance: the per-source KMV store
    //    built on batch 1 is updated by RE-FEEDING its retained sample
    //    together with batch 2's raw keys — bottom-k mergeability means
    //    KMV(sample(A) ∪ B) == KMV(A ∪ B) exactly, so the continuously
    //    maintained store equals the full recomputation (which is what
    //    the oracle replays). The 100 TB pattern: nightly sketch tables
    //    updated per ingest batch, never re-scanning the corpus.
    QueryDef("q_ndv_incremental", (s, dir) => {
      val toks = Tokenize.tokens(t(s, dir, "documents").select("doc_id", "source", "text"),
        "text", Seq("doc_id", "source"))
      val store1 = toks.where(col("doc_id") < 250)
        .groupBy(col("source"))
        .agg(expr("kmv_ndv(word, 16)").as("r"))
        .select(col("source"), col("r.sample").as("sample"))
        .pin() // the materialized store (parquet in production)
      store1
        .select(col("source"), explode(col("sample")).as("word"))
        .unionByName(toks.where(col("doc_id") >= 250).select(col("source"), col("word")))
        .groupBy(col("source"))
        .agg(expr("kmv_ndv(word, 16)").as("r"))
        .select(col("source"), col("r.ndv_est").as("ndv_est"),
          size(col("r.sample")).cast("long").as("n_sample"))
        .orderBy("source")
    },
      // mergeability makes the incrementally maintained store EQUAL the
      // full recomputation — so the oracle IS the full computation
      ndvPerSourceSql),

    // -- KMV sketch SET ALGEBRA: pairwise source-vocabulary overlap from
    //    the per-source sketches alone — union NDV, Jaccard, and
    //    intersection NDV with NO corpus-sized join (q_source_overlap's
    //    100 TB form); md5 determinism means even the estimates replay
    //    exactly in the oracle
    QueryDef("q_ndv_overlap", (s, dir) => {
      operators.Stats
        .kmvOverlap(
          Tokenize.tokens(t(s, dir, "documents").select("doc_id", "source", "text"),
            "text", Seq("doc_id", "source")),
          "source", k = 64)
    },
      // per-group KMV: bottom-16 per source, same deterministic replay
      // the KMV set operations replayed: per-source bottom-64 samples,
      // union-bottom-64 re-rank, membership via count(DISTINCT source)=2,
      // same estimator formulas and rounding as Stats.kmvOverlap
      """WITH tk AS (
           SELECT source,
                  regexp_replace(lower(unnest(regexp_split_to_array(text, '\s+'))), '[^a-z]', '', 'g') AS w
           FROM documents),
         tok2 AS (SELECT source, w AS word FROM tk WHERE w <> ''),
         hh AS (SELECT DISTINCT source, word,
                       ('0x' || substr(md5(word), 1, 15))::BIGINT AS h
                FROM tok2),
         smp AS (SELECT source, word, h FROM (
                   SELECT source, word, h,
                          row_number() OVER (PARTITION BY source ORDER BY h) AS rn
                   FROM hh) z WHERE rn <= 64),
         p AS (SELECT a.source AS g1, b2.source AS g2
               FROM (SELECT DISTINCT source FROM smp) a
               JOIN (SELECT DISTINCT source FROM smp) b2 ON a.source < b2.source),
         u AS (SELECT p.g1, p.g2, s.word, s.h, count(DISTINCT s.source) AS nsrc
               FROM p JOIN smp s ON s.source IN (p.g1, p.g2)
               GROUP BY p.g1, p.g2, s.word, s.h),
         r AS (SELECT g1, g2, word, h, nsrc,
                      row_number() OVER (PARTITION BY g1, g2 ORDER BY h) AS rn,
                      count(*) OVER (PARTITION BY g1, g2) AS nu
               FROM u),
         bt AS (SELECT g1, g2, max(nu) AS nu, count(*) AS nb,
                       max(CASE WHEN rn = least(64, nu) THEN h END) AS kth,
                       sum(CASE WHEN nsrc = 2 THEN 1 ELSE 0 END) AS nboth
                FROM r WHERE rn <= 64 GROUP BY 1, 2)
         SELECT g1, g2, union_ndv_r, jaccard_r,
                floor((jaccard_r * union_ndv_r) * 1e4 + 0.5) / 1e4 AS inter_ndv_r
         FROM (
           SELECT g1, g2,
                  CASE WHEN nu < 64 THEN nu::DOUBLE
                       ELSE floor((63.0 / (kth::DOUBLE / 1152921504606846976.0)) * 1e4 + 0.5) / 1e4
                  END AS union_ndv_r,
                  floor((nboth::DOUBLE / nb) * 1e6 + 0.5) / 1e6 AS jaccard_r
           FROM bt) z
         ORDER BY g1, g2"""),

    // -- heavy-hitter key profile: the pre-join skew diagnosis that
    //    decides between salting and AQE skew handling; exact counts,
    //    partial-agg + TakeOrderedAndProject, no window over data rows
    QueryDef("q_key_skew", (s, dir) => {
      operators.Stats
        .heavyHitters(graft.sources.EventsSource.events(s, dir), "user_id", k = 20)
        .orderBy(desc("cnt"), asc("user_id"))
    },
      """WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY 1),
         t AS (SELECT count(*)::DOUBLE AS total FROM events)
         SELECT user_id, cnt,
                floor((cnt / total) * 1e6 + 0.5) / 1e6 AS share_r
         FROM c CROSS JOIN t
         ORDER BY cnt DESC, user_id LIMIT 20"""),

    // -- salting ADVISOR: per hot key, the salt factor that brings its
    //    heaviest sub-partition under target — the metadata-sized plan
    //    q_key_skew's diagnosis feeds into saltedCount/saltedJoin
    QueryDef("q_salt_plan", (s, dir) => {
      graft.plans.Salting
        .saltPlan(graft.sources.EventsSource.events(s, dir), "event_type", targetRows = 1000L)
        .orderBy("event_type")
    },
      """WITH g AS (SELECT event_type, count(*) AS cnt FROM events GROUP BY 1)
         SELECT event_type, cnt::BIGINT AS cnt,
                ceil(cnt::DOUBLE / 1000)::BIGINT AS n_salts,
                ceil(cnt::DOUBLE / ceil(cnt::DOUBLE / 1000))::BIGINT AS rows_per_task
         FROM g WHERE cnt > 1000 ORDER BY event_type"""),

    // -- manual semi-join reduction: orders bloom-pruned by rich
    //    customers' keys BEFORE the join shuffle (Spark's runtime-filter
    //    transform, made deterministic); result == the plain join, which
    //    is the oracle
    QueryDef("q_bloom_join", (s, dir) => {
      val rich = t(s, dir, "customer")
        .where(col("c_acctbal") > 9000)
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
      plans.BloomJoin
        .bloomPrunedJoin(t(s, dir, "orders"), rich, "o_custkey",
          expectedItems = 1 << 16)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("revenue"))
        .orderBy("c_mktsegment")
    },
      // the bloom prune is invisible to semantics: the oracle is the plain join
      """SELECT c_mktsegment, count(*) AS n,
                floor((sum(o_totalprice)) * 1e2 + 0.5) / 1e2 AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         WHERE c_acctbal > 9000
         GROUP BY 1 ORDER BY 1"""),

    QueryDef("q_join_revenue", (s, dir) => {
      val orders   = t(s, dir, "orders")
      val customer = t(s, dir, "customer")
      val nation   = t(s, dir, "nation")
      val region   = t(s, dir, "region")
      orders
        .join(broadcast(customer), orders("o_custkey") === customer("c_custkey"))
        .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
        .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          round(sum(col("o_totalprice")), 2).as("revenue"),
          countDistinct(col("o_custkey")).as("n_customers"))
        .orderBy("r_name", "n_name")
    },
      """SELECT r_name, n_name, floor((sum(o_totalprice)) * 1e2 + 0.5) / 1e2 AS revenue,
         count(DISTINCT o_custkey) AS n_customers
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name ORDER BY r_name, n_name"""),

    // -- fact⋈dimension broadcast hash join + agg
    QueryDef("q_join_parts", (s, dir) => {
      val li   = t(s, dir, "lineitem")
      val part = t(s, dir, "part")
      li.join(broadcast(part), li("l_partkey") === part("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n"))
        .orderBy("p_brand")
    },
      """SELECT p_brand, floor((sum(l_quantity)) * 1e2 + 0.5) / 1e2 AS sum_qty,
         floor((sum(l_extendedprice * (1 - l_discount))) * 1e2 + 0.5) / 1e2 AS revenue, count(*) AS n
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY p_brand ORDER BY p_brand"""),

    // -- window function: first 3 orders per customer by date
    QueryDef("q_window_orders", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(asc("o_orderdate"), asc("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rn"))
        .orderBy("o_custkey", "rn")
    },
      """SELECT o_custkey, o_orderkey, rn FROM (
           SELECT o_custkey, o_orderkey,
                  row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
           FROM orders)
         WHERE rn <= 3 ORDER BY o_custkey, rn"""),

    // -- window FRAMES: per-customer rolling order total over the last 3
    //    orders (rowsBetween) + running cumulative count
    QueryDef("q_window_rolling", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(asc("o_orderdate"), asc("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("roll3", round(sum(col("o_totalprice")).over(w.rowsBetween(-2, 0)), 2))
        .withColumn("cum_n", count(lit(1)).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .where(col("o_custkey") < 200)
        .select(col("o_custkey"), col("o_orderkey"), col("roll3"), col("cum_n"))
        .orderBy("o_custkey", "cum_n")
    },
      // WHERE before the window is equivalent: the partition key is the
      // filter column, so partitions are kept or dropped whole
      """SELECT o_custkey, o_orderkey,
                floor((sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)) * 1e2 + 0.5) / 1e2 AS roll3,
                count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                       ROWS UNBOUNDED PRECEDING) AS cum_n
         FROM orders WHERE o_custkey < 200
         ORDER BY o_custkey, cum_n"""),

    // -- value-RANGE framed window: per customer, revenue and order count
    //    in the 30 days ENDING at each order (epoch-day ordering). The
    //    frame a rows-window can't express when per-day row counts vary;
    //    ties on day share one frame, so the result is order-independent.
    QueryDef("q_window_range", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("day")).rangeBetween(-29, 0)
      t(s, dir, "orders")
        .withColumn("day",
          datediff(col("o_orderdate"), lit("1970-01-01").cast("date")).cast("long"))
        .withColumn("rev30_r", round(sum(col("o_totalprice")).over(w), 2))
        .withColumn("n30", count(lit(1)).over(w))
        .where(col("o_custkey") < 200)
        .select(col("o_custkey"), col("o_orderkey"), col("day"), col("rev30_r"), col("n30"))
        .orderBy("o_custkey", "day", "o_orderkey")
    },
      // same RANGE frame; ties on day share one frame on both engines
      """WITH d AS (SELECT o_custkey, o_orderkey, o_totalprice,
                           date_diff('day', DATE '1970-01-01', o_orderdate::DATE)::BIGINT AS day
                    FROM orders),
          w AS (SELECT o_custkey, o_orderkey, day,
                       sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY day
                         RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) AS s,
                       count(*) OVER (PARTITION BY o_custkey ORDER BY day
                         RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) AS n30
                FROM d)
          SELECT o_custkey, o_orderkey, day,
                 floor(s * 1e2 + 0.5) / 1e2 AS rev30_r, n30
          FROM w WHERE o_custkey < 200
          ORDER BY o_custkey, day, o_orderkey"""),

    // -- window-function breadth: lead/lag/ntile/percent_rank in one pass
    //    (unique (date, key) order makes every value deterministic)
    QueryDef("q_window_funcs", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(asc("o_orderdate"), asc("o_orderkey"))
      t(s, dir, "orders")
        .where(col("o_custkey") < 100)
        .select(
          col("o_custkey"),
          col("o_orderkey"),
          lag(col("o_orderkey"), 1).over(w).as("prev_key"),
          lead(col("o_orderkey"), 1).over(w).as("next_key"),
          ntile(4).over(w).as("quartile"),
          round(percent_rank().over(w), 6).as("pr"))
        .orderBy("o_custkey", "o_orderkey")
    },
      """SELECT o_custkey, o_orderkey,
                lag(o_orderkey, 1) OVER w AS prev_key,
                lead(o_orderkey, 1) OVER w AS next_key,
                ntile(4) OVER w AS quartile,
                floor((percent_rank() OVER w) * 1e6 + 0.5) / 1e6 AS pr
         FROM orders WHERE o_custkey < 100
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         ORDER BY o_custkey, o_orderkey"""),

    // -- fuzzy string matching: near-identical document heads by edit
    //    distance (levenshtein agrees across engines; the deliberate
    //    broadcast cross join is over a 60-row slice, like the query sets)
    QueryDef("q_fuzzy_title", (s, dir) => {
      val heads = t(s, dir, "documents")
        .where(col("doc_id") < 60)
        .select(col("doc_id"), substring(col("text"), 1, 24).as("head"))
      heads.as("a")
        .join(heads.as("b"), col("a.doc_id") < col("b.doc_id"))
        .withColumn("lev", levenshtein(col("a.head"), col("b.head")))
        .where(col("lev") <= 12)
        .select(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"), col("lev"))
        .orderBy("doc1", "doc2")
    },
      """WITH h AS (SELECT doc_id, substr(text, 1, 24) AS head FROM documents WHERE doc_id < 60)
         SELECT a.doc_id AS doc1, b.doc_id AS doc2,
                levenshtein(a.head, b.head)::INTEGER AS lev
         FROM h a JOIN h b ON a.doc_id < b.doc_id
         WHERE levenshtein(a.head, b.head) <= 12
         ORDER BY doc1, doc2"""),

    // -- anti join: customers with no high-value (>450k) order
    QueryDef("q_anti_customers", (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").where(col("o_totalprice") > 450000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"))
        .orderBy("c_mktsegment")
    },
      """SELECT c_mktsegment, count(*) AS n FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000)
         GROUP BY c_mktsegment ORDER BY c_mktsegment"""),

    // -- semi join: customers with at least one order
    QueryDef("q_semi_customers", (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), round(avg(col("c_acctbal")), 2).as("avg_bal"))
        .orderBy("c_mktsegment")
    },
      """SELECT c_mktsegment, count(*) AS n, floor((avg(c_acctbal)) * 1e2 + 0.5) / 1e2 AS avg_bal
         FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
         GROUP BY c_mktsegment ORDER BY c_mktsegment"""),

    // -- set operations packaged into one deterministic row
    QueryDef("q_setops", (s, dir) => {
      val c       = t(s, dir, "customer")
      val o       = t(s, dir, "orders")
      val okeys   = o.select(col("o_custkey").as("k"))
      val rich    = c.where(col("c_acctbal") > 1000).select(col("c_custkey").as("k"))
      val nInter  = okeys.intersect(rich).agg(count(lit(1)).as("n_intersect"))
      val nExcept = rich.except(okeys.distinct()).agg(count(lit(1)).as("n_except"))
      val nUnion  = okeys.union(rich).distinct().agg(count(lit(1)).as("n_union"))
      nInter.crossJoin(nExcept).crossJoin(nUnion)
    },
      """SELECT
         (SELECT count(*) FROM (SELECT o_custkey FROM orders
            INTERSECT SELECT c_custkey FROM customer WHERE c_acctbal > 1000)) AS n_intersect,
         (SELECT count(*) FROM (SELECT c_custkey FROM customer WHERE c_acctbal > 1000
            EXCEPT SELECT DISTINCT o_custkey FROM orders)) AS n_except,
         (SELECT count(*) FROM (SELECT o_custkey FROM orders
            UNION SELECT c_custkey FROM customer WHERE c_acctbal > 1000)) AS n_union"""),

    // ================= inverted-index surface (the reference's own pipeline)

    // -- explode/split/lower/clean/filter: the map phase, one row per token
    QueryDef("q_tokenize", (s, dir) => {
      Tokenize
        .tokens(t(s, dir, "documents").where(col("doc_id") < 50), "text", Seq("doc_id"))
        .orderBy("doc_id", "word")
    },
      s"""WITH $TokCte
          SELECT doc_id, word FROM tok WHERE doc_id < 50 ORDER BY doc_id, word"""),

    // -- corpus-wide term frequency WITH multiplicity (no doc_id cap, count
    //    not countDistinct): closes the oracle blind spot where token
    //    multiplicity was only exercised per-document or distinct-only.
    //    Map-side partial count below the single hash exchange.
    QueryDef("q_term_freq", (s, dir) => {
      Tokenize
        .tokens(t(s, dir, "documents"), "text", Seq("doc_id"))
        .groupBy(col("word"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("word")
    },
      s"""WITH $TokCte
          SELECT word, count(*) AS cnt FROM tok GROUP BY word ORDER BY word"""),

    // -- groupBy + distinct-set agg + sort_array + size: postings
    QueryDef("q_inverted_index", (s, dir) => {
      InvertedIndex
        .postings(Tokenize.tokens(t(s, dir, "documents"), "text", Seq("doc_id")))
        .select(
          col("word"),
          array_join(col("doc_ids"), " ").as("doc_ids_str"),
          col("df"))
        .orderBy("word")
    },
      s"""WITH $TokCte
          SELECT word, array_to_string(list_sort(list(DISTINCT doc_id)), ' ') AS doc_ids_str,
                 count(DISTINCT doc_id) AS df
          FROM tok GROUP BY word ORDER BY word"""),

    // -- index snapshot diff: changelog between the even-docs index and
    //    the full rebuild — per-word added/removed ids + new/gone/changed
    //    status; change-sized output, one full-outer join on the index key
    QueryDef("q_index_diff", (s, dir) => {
      val toks = Tokenize.tokens(t(s, dir, "documents"), "text", Seq("doc_id"))
      InvertedIndex
        .diffIndexes(
          InvertedIndex.postings(toks.where(col("doc_id") % 2 === 0)),
          InvertedIndex.postings(toks))
        .orderBy("word")
    },
      s"""WITH $TokCte,
          oldi AS (SELECT word, list_sort(list(DISTINCT doc_id)) AS ids
                   FROM tok WHERE doc_id % 2 = 0 GROUP BY 1),
          newi AS (SELECT word, list_sort(list(DISTINCT doc_id)) AS ids FROM tok GROUP BY 1),
          j AS (SELECT coalesce(o.word, n.word) AS word, o.ids AS io, n.ids AS inw
                FROM oldi o FULL OUTER JOIN newi n ON o.word = n.word),
          d AS (SELECT word, io, inw,
                       list_sort(list_filter(coalesce(inw, []::BIGINT[]),
                         x -> NOT list_contains(coalesce(io, []::BIGINT[]), x))) AS added,
                       list_sort(list_filter(coalesce(io, []::BIGINT[]),
                         x -> NOT list_contains(coalesce(inw, []::BIGINT[]), x))) AS removed
                FROM j)
          SELECT word,
                 -- DuckDB's array_to_string of an EMPTY list is NULL, not ''
                 coalesce(array_to_string(added, ' '), '') AS added_str,
                 coalesce(array_to_string(removed, ' '), '') AS removed_str,
                 len(added) AS n_added, len(removed) AS n_removed,
                 CASE WHEN io IS NULL THEN 'new' WHEN inw IS NULL THEN 'gone'
                      ELSE 'changed' END AS status
          FROM d WHERE len(added) > 0 OR len(removed) > 0 ORDER BY word"""),

    // -- incremental maintenance invariant: merge(index(even), index(odd))
    //    == index(all); the oracle is the whole-corpus index itself
    QueryDef("q_index_merge", (s, dir) => {
      val docs = t(s, dir, "documents")
      val even = Engine.indexFromTable(docs.where(col("doc_id") % 2 === 0))
      val odd  = Engine.indexFromTable(docs.where(col("doc_id") % 2 === 1))
      InvertedIndex
        .mergeIndexes(even, odd)
        .select(
          col("word"),
          array_join(col("doc_ids"), " ").as("doc_ids_str"),
          col("df"))
        .orderBy("word")
    },
      // the merge invariant: merging the even- and odd-doc indexes must give
      // exactly the whole-corpus index, so the oracle IS q_inverted_index
      s"""WITH $TokCte
          SELECT word, array_to_string(list_sort(list(DISTINCT doc_id)), ' ') AS doc_ids_str,
                 count(DISTINCT doc_id) AS df
          FROM tok GROUP BY word ORDER BY word"""),

    // -- the same merge against the ON-DISK index: write the even half to
    //    a.txt…z.txt, merge the odd half's postings into a NEW snapshot
    //    through the graft-letters reader (the input snapshot is never
    //    modified), read the merged snapshot back. Must equal the
    //    in-memory merge — same oracle SQL. Completes the letter format's
    //    lifecycle: build → write → read → query → maintain.
    QueryDef("q_index_merge_disk", (s, dir) => {
      val docs = t(s, dir, "documents")
      val base = scratch("idx-base", dir)
      val snap = scratch("idx-snap", dir)
      graft.sources.LetterSink.writeExact(
        Engine.indexFromTable(docs.where(col("doc_id") % 2 === 0)), base)
      graft.sources.LetterSink.mergeExact(
        s, base, Engine.indexFromTable(docs.where(col("doc_id") % 2 === 1)), snap)
      s.read.format("graft-letters").load(snap)
        .select(
          col("word"),
          array_join(col("doc_ids"), " ").as("doc_ids_str"),
          col("df"))
        .orderBy("word")
    },
      // disk-snapshot merge must equal the in-memory merge exactly
      s"""WITH $TokCte
          SELECT word, array_to_string(list_sort(list(DISTINCT doc_id)), ' ') AS doc_ids_str,
                 count(DISTINCT doc_id) AS df
          FROM tok GROUP BY word ORDER BY word"""),

    // -- incremental maintenance invariant: remove(index(A), D) ==
    //    index(A \ D); the oracle indexes the filtered corpus directly
    QueryDef("q_index_remove", (s, dir) => {
      InvertedIndex
        .removeDocs(Engine.indexFromTable(t(s, dir, "documents")), (1L to 40L))
        .select(
          col("word"),
          array_join(col("doc_ids"), " ").as("doc_ids_str"),
          col("df"))
        .orderBy("word")
    },
      // the removal invariant: the oracle indexes the corpus minus the
      // removed ids directly
      """WITH tok AS (
           SELECT doc_id, w AS word FROM (
             SELECT doc_id,
                    regexp_replace(lower(unnest(regexp_split_to_array(text, '\s+'))), '[^a-z]', '', 'g') AS w
             FROM documents WHERE doc_id NOT BETWEEN 1 AND 40) u
           WHERE w <> '')
          SELECT word, array_to_string(list_sort(list(DISTINCT doc_id)), ' ') AS doc_ids_str,
                 count(DISTINCT doc_id) AS df
          FROM tok GROUP BY word ORDER BY word"""),

    // -- UPSERT invariant: re-ingesting docs 1-40 with changed text must
    //    equal indexing the modified corpus from scratch (stale tokens
    //    gone, fresh tokens in); delete goes through the DISTRIBUTED
    //    large-set path (anti-join), not broadcast literals
    QueryDef("q_index_upsert", (s, dir) => {
      val docs = t(s, dir, "documents")
      val changed = docs.where(col("doc_id").between(1, 40))
        .withColumn("text", concat(col("text"), lit(" refreshed contentx")))
      InvertedIndex
        .upsertDocs(Engine.indexFromTable(docs), changed)
        .select(
          col("word"),
          array_join(col("doc_ids"), " ").as("doc_ids_str"),
          col("df"))
        .orderBy("word")
    },
      // upsert invariant: the oracle indexes the MODIFIED corpus from scratch
      """WITH tok AS (
           SELECT doc_id, w AS word FROM (
             SELECT doc_id,
                    regexp_replace(lower(unnest(regexp_split_to_array(
                      CASE WHEN doc_id BETWEEN 1 AND 40
                           THEN text || ' refreshed contentx' ELSE text END, '\s+'))),
                      '[^a-z]', '', 'g') AS w
             FROM documents) u
           WHERE w <> '')
          SELECT word, array_to_string(list_sort(list(DISTINCT doc_id)), ' ') AS doc_ids_str,
                 count(DISTINCT doc_id) AS df
          FROM tok GROUP BY word ORDER BY word"""),

    // -- POSITIONAL-index maintenance: merge(pos(even), pos(odd)) ==
    //    pos(all); the oracle builds the whole-corpus positional index.
    //    Flattened to (word, doc_id, positions_str) for comparison.
    QueryDef("q_index_merge_pos", (s, dir) => {
      val docs = t(s, dir, "documents")
      val even = InvertedIndex.positionalPostings(docs.where(col("doc_id") % 2 === 0))
      val odd  = InvertedIndex.positionalPostings(docs.where(col("doc_id") % 2 === 1))
      InvertedIndex
        .mergePositional(even, odd)
        .select(col("word"), explode_outer(col("postings")).as("p"))
        .select(
          col("word"),
          col("p.doc_id").as("doc_id"),
          array_join(col("p.positions"), " ").as("positions_str"))
        .orderBy("word", "doc_id")
    },
      // positional merge invariant: the oracle IS the whole-corpus positional
      // index (0-based token offsets, ascending)
      s"""WITH $ToksArrCte,
          p AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos, unnest(toks) AS word
                FROM toks_arr)
          SELECT word, doc_id, array_to_string(list(pos - 1 ORDER BY pos), ' ') AS positions_str
          FROM p GROUP BY word, doc_id ORDER BY word, doc_id"""),

    // -- positional removal invariant: the oracle indexes the filtered
    //    corpus directly
    QueryDef("q_index_remove_pos", (s, dir) => {
      InvertedIndex
        .removeDocsPositional(
          InvertedIndex.positionalPostings(t(s, dir, "documents")), (1L to 40L))
        .select(col("word"), explode_outer(col("postings")).as("p"))
        .select(
          col("word"),
          col("p.doc_id").as("doc_id"),
          array_join(col("p.positions"), " ").as("positions_str"))
        .orderBy("word", "doc_id")
    },
      // positional removal invariant: index the filtered corpus directly
      """WITH toks_arr AS (
           SELECT doc_id,
                  list_filter(
                    list_transform(regexp_split_to_array(text, '\s+'),
                                   x -> regexp_replace(lower(x), '[^a-z]', '', 'g')),
                    w -> w <> '') AS toks
           FROM documents WHERE doc_id NOT BETWEEN 1 AND 40),
          p AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos, unnest(toks) AS word
                FROM toks_arr)
          SELECT word, doc_id, array_to_string(list(pos - 1 ORDER BY pos), ' ') AS positions_str
          FROM p GROUP BY word, doc_id ORDER BY word, doc_id"""),

    // -- hot-key-safe sharded aggregation: must equal q_inverted_index
    //    exactly (same oracle SQL), while never materializing a full hot
    //    word's postings in one task
    QueryDef("q_inverted_index_sharded", (s, dir) => {
      InvertedIndex
        .postingsSharded(
          Tokenize.tokens(t(s, dir, "documents"), "text", Seq("doc_id")),
          shardWidth = 100L)
        .select(
          col("word"),
          array_join(col("doc_ids"), " ").as("doc_ids_str"),
          col("df"))
        .orderBy("word")
    },
      // identical oracle on purpose: the sharded plan must be result-identical
      s"""WITH $TokCte
          SELECT word, array_to_string(list_sort(list(DISTINCT doc_id)), ' ') AS doc_ids_str,
                 count(DISTINCT doc_id) AS df
          FROM tok GROUP BY word ORDER BY word"""),

    // -- multi-key global sort (letter ASC, df DESC, word ASC)
    QueryDef("q_ranked_postings", (s, dir) => {
      InvertedIndex
        .postings(Tokenize.tokens(t(s, dir, "documents"), "text", Seq("doc_id")))
        .select(col("letter"), col("word"), col("df"))
        .orderBy(asc("letter"), desc("df"), asc("word"))
    },
      s"""WITH $TokCte
          SELECT substr(word, 1, 1) AS letter, word, count(DISTINCT doc_id) AS df
          FROM tok GROUP BY word ORDER BY letter, df DESC, word"""),

    // -- per-letter top-k via window rank
    QueryDef("q_topk_per_letter", (s, dir) => {
      val w = Window.partitionBy(col("letter")).orderBy(desc("df"), asc("word"))
      InvertedIndex
        .postings(Tokenize.tokens(t(s, dir, "documents"), "text", Seq("doc_id")))
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= 3)
        .select(col("letter"), col("word"), col("df"), col("rank"))
        .orderBy("letter", "rank")
    },
      s"""WITH $TokCte,
          p AS (SELECT substr(word, 1, 1) AS letter, word, count(DISTINCT doc_id) AS df
                FROM tok GROUP BY word)
          SELECT letter, word, df, rank FROM (
            SELECT letter, word, df,
                   row_number() OVER (PARTITION BY letter ORDER BY df DESC, word) AS rank
            FROM p) r
          WHERE rank <= 3 ORDER BY letter, rank"""),

    // -- boolean retrieval over the index: docs containing ALL query terms
    QueryDef("q_search_and", (s, dir) => {
      Search.andQuery(
        InvertedIndex.postings(Tokenize.tokens(t(s, dir, "documents"), "text", Seq("doc_id"))),
        Seq("spark", "query", "join"))
    },
      s"""WITH $TokCte
          SELECT doc_id FROM (
            SELECT doc_id, count(DISTINCT word) AS n_terms
            FROM tok WHERE word IN ('spark', 'query', 'join')
            GROUP BY doc_id) g
          WHERE n_terms = 3 ORDER BY doc_id"""),

    // -- faceted retrieval: per-facet hit counts next to the result list;
    //    the result-sized hit set broadcasts, metadata never shuffles
    QueryDef("q_search_facets", (s, dir) => {
      Search
        .facetCounts(
          InvertedIndex.postings(Tokenize.tokens(t(s, dir, "documents"), "text", Seq("doc_id"))),
          Seq("spark", "query"),
          t(s, dir, "documents"),
          Seq("lang", "source"))
        .orderBy("facet", "value")
    },
      s"""WITH $TokCte,
          hits AS (SELECT doc_id FROM (
                     SELECT doc_id, count(DISTINCT word) AS n_terms
                     FROM tok WHERE word IN ('spark', 'query') GROUP BY doc_id) g
                   WHERE n_terms = 2),
          j AS (SELECT d.lang, d.source FROM documents d JOIN hits USING (doc_id))
          SELECT facet, value, n_docs FROM (
            SELECT 'lang' AS facet, lang AS value, count(*) AS n_docs FROM j GROUP BY 2
            UNION ALL
            SELECT 'source' AS facet, source AS value, count(*) AS n_docs FROM j GROUP BY 2) u
          ORDER BY facet, value"""),

    // -- impact-ordered static index pruning: top-5 postings per term by
    //    (tf DESC, id ASC) via the bounded partial top-k — no whole-term
    //    window; df_full records what was cut
    QueryDef("q_postings_pruned", (s, dir) => {
      InvertedIndex
        .prunedTfPostings(
          Tokenize.tokens(t(s, dir, "documents"), "text", Seq("doc_id")), n = 5)
        .orderBy(col("word"), desc("tf"), col("doc_id"))
    },
      s"""WITH $TokCte,
          tfp AS (SELECT word, doc_id, count(*) AS tf FROM tok GROUP BY 1, 2),
          d AS (SELECT word, count(*) AS df_full FROM tfp GROUP BY 1)
          SELECT word, doc_id, tf, df_full FROM (
            SELECT t.word, t.doc_id, t.tf, d.df_full,
                   row_number() OVER (PARTITION BY t.word
                                      ORDER BY t.tf DESC, t.doc_id) AS rn
            FROM tfp t JOIN d USING (word)) u
          WHERE rn <= 5 ORDER BY word, tf DESC, doc_id"""),

    // -- "did you mean": top-3 vocabulary suggestions within 2 edits per
    //    misspelled term, ranked (dist ASC, freq DESC, word ASC); the
    //    corpus reduces to the vocabulary, query terms broadcast
    QueryDef("q_spell_suggest", (s, dir) => {
      Search
        .spellSuggest(
          Tokenize.tokens(t(s, dir, "documents"), "text", Seq("doc_id")),
          Seq("sprak", "qury", "jion"), maxDist = 2, k = 3)
        .orderBy(col("qterm"), col("dist"), desc("freq"), col("suggestion"))
    },
      s"""WITH $TokCte,
          v AS (SELECT word, count(*) AS freq FROM tok GROUP BY 1),
          q AS (SELECT unnest(['sprak', 'qury', 'jion']) AS qterm),
          s AS (SELECT q.qterm, v.word, v.freq, levenshtein(q.qterm, v.word) AS dist
                FROM v CROSS JOIN q
                WHERE abs(length(v.word) - length(q.qterm)) <= 2),
          f AS (SELECT qterm, word AS suggestion, dist, freq FROM s WHERE dist <= 2
                QUALIFY row_number() OVER (PARTITION BY qterm
                                           ORDER BY dist, freq DESC, word) <= 3)
          SELECT qterm, suggestion, dist, freq FROM f
          ORDER BY qterm, dist, freq DESC, suggestion"""),

    // -- query autocomplete: top-4 vocabulary completions per typed
    //    prefix, frequency-ranked; vocab-sized work, prefix-bounded window
    QueryDef("q_autocomplete", (s, dir) => {
      Search
        .autocomplete(
          Tokenize.tokens(t(s, dir, "documents"), "text", Seq("doc_id")),
          Seq("s", "b", "qu"), k = 4)
        .orderBy(col("prefix"), col("rn"))
    },
      s"""WITH $TokCte,
          v AS (SELECT word, count(*) AS freq FROM tok GROUP BY 1),
          q AS (SELECT unnest(['s', 'b', 'qu']) AS prefix),
          f AS (SELECT q.prefix, v.word AS completion, v.freq,
                       row_number() OVER (PARTITION BY q.prefix
                                          ORDER BY v.freq DESC, v.word) AS rn
                FROM v JOIN q ON starts_with(v.word, q.prefix)
                QUALIFY rn <= 4)
          SELECT prefix, completion, freq, rn FROM f ORDER BY prefix, rn"""),

    // -- retrieval eval harness: recall@10 and MRR@10 of BM25 against
    //    conjunctive-containment relevance, per query — bounded top-k,
    //    no window over the matched-doc axis
    QueryDef("q_retrieval_eval", (s, dir) => {
      Search
        .retrievalEval(
          Tokenize.tokens(t(s, dir, "documents"), "text", Seq("doc_id")),
          Seq(
            1 -> Seq("spark", "query"),
            2 -> Seq("vector", "stream", "merge"),
            3 -> Seq("data", "table", "row")),
          k = 10)
        .orderBy("qid")
    },
      s"""WITH $TokCte,
          dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
          stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
          q AS (SELECT 1 AS qid, ['spark', 'query'] AS terms
                UNION ALL SELECT 2, ['vector', 'stream', 'merge']
                UNION ALL SELECT 3, ['data', 'table', 'row']),
          tf AS (SELECT q.qid, t.doc_id, t.word, count(*) AS tf
                 FROM tok t JOIN q ON list_contains(q.terms, t.word)
                 GROUP BY 1, 2, 3),
          dfs AS (SELECT qid, word, count(DISTINCT doc_id) AS df_t FROM tf GROUP BY 1, 2),
          sc AS (SELECT qid, doc_id,
                        floor((sum(ln((n_docs - df_t + 0.5) / (df_t + 0.5) + 1.0)
                                   * (tf * (1.2 + 1.0))
                                   / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)))) * 1e4 + 0.5) / 1e4 AS score_r
                 FROM (SELECT tf.qid, tf.doc_id, tf.tf, dfs.df_t, dl.dl, n_docs, avgdl
                       FROM tf JOIN dfs ON dfs.qid = tf.qid AND dfs.word = tf.word
                       JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats) x
                 GROUP BY 1, 2),
          tp AS (SELECT qid, doc_id, rnk FROM (
                   SELECT qid, doc_id,
                          row_number() OVER (PARTITION BY qid
                                             ORDER BY score_r DESC, doc_id) AS rnk
                   FROM sc) r WHERE rnk <= 10),
          rel AS (SELECT x.qid, t.doc_id
                  FROM (SELECT qid, terms, len(terms) AS nt FROM q) x
                  JOIN tok t ON list_contains(x.terms, t.word)
                  GROUP BY x.qid, t.doc_id, x.nt
                  HAVING count(DISTINCT t.word) = x.nt),
          nr AS (SELECT qid, count(*) AS n_rel FROM rel GROUP BY 1),
          h AS (SELECT tp.qid, count(*) AS hits, min(rnk) AS frst
                FROM tp JOIN rel ON rel.qid = tp.qid AND rel.doc_id = tp.doc_id
                GROUP BY 1)
          SELECT nr.qid, n_rel, coalesce(hits, 0) AS rel_in_topk,
                 floor((coalesce(hits, 0)::DOUBLE / n_rel) * 1e4 + 0.5) / 1e4 AS recall_r,
                 floor((coalesce(1.0 / frst, 0.0)) * 1e4 + 0.5) / 1e4 AS mrr_r
          FROM nr LEFT JOIN h USING (qid) ORDER BY nr.qid"""),

    // -- nDCG@10 with GRADED relevance (distinct query terms contained,
    //    gain 2^rel − 1): both the actual BM25 ranking and the IDEAL
    //    ranking flow through the bounded CosTopK partial top-k
    QueryDef("q_ndcg_eval", (s, dir) => {
      Search
        .ndcgEval(
          Tokenize.tokens(t(s, dir, "documents"), "text", Seq("doc_id")),
          Seq(
            1 -> Seq("spark", "query"),
            2 -> Seq("vector", "stream", "merge"),
            3 -> Seq("data", "table", "row")),
          k = 10)
        .orderBy("qid")
    },
      // same BM25 ranking CTEs as q_retrieval_eval; graded relevance g
      // feeds both the actual-ranking DCG and the ideal ranking (top-k
      // grades, rel DESC / doc ASC — interchangeable docs at equal grade
      // leave IDCG unchanged, so the tie rule only needs determinism)
      s"""WITH $TokCte,
          dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
          stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
          q AS (SELECT 1 AS qid, ['spark', 'query'] AS terms
                UNION ALL SELECT 2, ['vector', 'stream', 'merge']
                UNION ALL SELECT 3, ['data', 'table', 'row']),
          tf AS (SELECT q.qid, t.doc_id, t.word, count(*) AS tf
                 FROM tok t JOIN q ON list_contains(q.terms, t.word)
                 GROUP BY 1, 2, 3),
          dfs AS (SELECT qid, word, count(DISTINCT doc_id) AS df_t FROM tf GROUP BY 1, 2),
          sc AS (SELECT qid, doc_id,
                        floor((sum(ln((n_docs - df_t + 0.5) / (df_t + 0.5) + 1.0)
                                   * (tf * (1.2 + 1.0))
                                   / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)))) * 1e4 + 0.5) / 1e4 AS score_r
                 FROM (SELECT tf.qid, tf.doc_id, tf.tf, dfs.df_t, dl.dl, n_docs, avgdl
                       FROM tf JOIN dfs ON dfs.qid = tf.qid AND dfs.word = tf.word
                       JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats) x
                 GROUP BY 1, 2),
          tp AS (SELECT qid, doc_id, rnk FROM (
                   SELECT qid, doc_id,
                          row_number() OVER (PARTITION BY qid
                                             ORDER BY score_r DESC, doc_id) AS rnk
                   FROM sc) r WHERE rnk <= 10),
          g AS (SELECT x.qid, t.doc_id, count(DISTINCT t.word) AS rel
                FROM q x JOIN tok t ON list_contains(x.terms, t.word)
                GROUP BY 1, 2),
          d AS (SELECT tp.qid,
                       sum((pow(2.0, coalesce(g.rel, 0)::DOUBLE) - 1.0) / log2(rnk + 1)) AS dcg
                FROM tp LEFT JOIN g ON g.qid = tp.qid AND g.doc_id = tp.doc_id
                GROUP BY 1),
          i AS (SELECT qid, sum((pow(2.0, rel::DOUBLE) - 1.0) / log2(irnk + 1)) AS idcg
                FROM (SELECT qid, rel,
                             row_number() OVER (PARTITION BY qid
                                                ORDER BY rel DESC, doc_id) AS irnk
                      FROM g) z
                WHERE irnk <= 10 GROUP BY 1)
          SELECT d.qid,
                 floor(dcg * 1e4 + 0.5) / 1e4 AS dcg_r,
                 floor(idcg * 1e4 + 0.5) / 1e4 AS idcg_r,
                 floor((dcg / idcg) * 1e4 + 0.5) / 1e4 AS ndcg_r
          FROM d JOIN i USING (qid) ORDER BY d.qid"""),

    // -- average precision @10 of the same BM25 ranker (the MAP per-query
    //    term): rewards putting EVERY relevant doc early, binary
    //    conjunctive truth set, running precision on a per-qid window
    QueryDef("q_avg_precision", (s, dir) => {
      Search
        .avgPrecisionEval(
          Tokenize.tokens(t(s, dir, "documents"), "text", Seq("doc_id")),
          Seq(
            1 -> Seq("spark", "query"),
            2 -> Seq("vector", "stream", "merge"),
            3 -> Seq("data", "table", "row")),
          k = 10)
        .orderBy("qid")
    },
      // same BM25 ranking + conjunctive truth CTEs as q_retrieval_eval;
      // AP = Σ P@i over relevant ranks / min(n_rel, k)
      s"""WITH $TokCte,
          dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
          stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
          q AS (SELECT 1 AS qid, ['spark', 'query'] AS terms
                UNION ALL SELECT 2, ['vector', 'stream', 'merge']
                UNION ALL SELECT 3, ['data', 'table', 'row']),
          tf AS (SELECT q.qid, t.doc_id, t.word, count(*) AS tf
                 FROM tok t JOIN q ON list_contains(q.terms, t.word)
                 GROUP BY 1, 2, 3),
          dfs AS (SELECT qid, word, count(DISTINCT doc_id) AS df_t FROM tf GROUP BY 1, 2),
          sc AS (SELECT qid, doc_id,
                        floor((sum(ln((n_docs - df_t + 0.5) / (df_t + 0.5) + 1.0)
                                   * (tf * (1.2 + 1.0))
                                   / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)))) * 1e4 + 0.5) / 1e4 AS score_r
                 FROM (SELECT tf.qid, tf.doc_id, tf.tf, dfs.df_t, dl.dl, n_docs, avgdl
                       FROM tf JOIN dfs ON dfs.qid = tf.qid AND dfs.word = tf.word
                       JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats) x
                 GROUP BY 1, 2),
          tp AS (SELECT qid, doc_id, rnk FROM (
                   SELECT qid, doc_id,
                          row_number() OVER (PARTITION BY qid
                                             ORDER BY score_r DESC, doc_id) AS rnk
                   FROM sc) r WHERE rnk <= 10),
          rel AS (SELECT x.qid, t.doc_id
                  FROM (SELECT qid, terms, len(terms) AS nt FROM q) x
                  JOIN tok t ON list_contains(x.terms, t.word)
                  GROUP BY x.qid, t.doc_id, x.nt
                  HAVING count(DISTINCT t.word) = x.nt),
          nr AS (SELECT qid, count(*)::BIGINT AS n_rel FROM rel GROUP BY 1),
          pr AS (SELECT tp.qid, tp.rnk,
                        CASE WHEN rel.doc_id IS NOT NULL THEN 1 ELSE 0 END AS isrel
                 FROM tp LEFT JOIN rel ON rel.qid = tp.qid AND rel.doc_id = tp.doc_id),
          cm AS (SELECT qid, rnk, isrel,
                        sum(isrel) OVER (PARTITION BY qid ORDER BY rnk) AS cum
                 FROM pr),
          a AS (SELECT qid, sum(isrel)::BIGINT AS rel_in_topk,
                       sum(CASE WHEN isrel = 1 THEN cum::DOUBLE / rnk::DOUBLE END) AS s
                FROM cm GROUP BY qid)
          SELECT nr.qid, nr.n_rel, coalesce(a.rel_in_topk, 0) AS rel_in_topk,
                 floor((coalesce(a.s, 0.0) / least(nr.n_rel, 10)::DOUBLE) * 1e4 + 0.5) / 1e4 AS ap_r
          FROM nr LEFT JOIN a USING (qid) ORDER BY nr.qid"""),

    // -- k-ary randomized response over the language column: local-DP
    //    released counts + the unbiased de-bias estimate; both coins are
    //    deterministic md5 draws so the release replays exactly
    QueryDef("q_rr_freq", (s, dir) => {
      operators.Stats
        .randomizedResponse(t(s, dir, "documents"), "doc_id", "lang", p = 0.75)
        .orderBy("lang")
    },
      // md5-replayed keep/pick coins over the sorted category domain;
      // estimate de-biased with the Scala-emitted literals
      """WITH r0 AS (SELECT doc_id, lang FROM documents
                     WHERE doc_id IS NOT NULL AND lang IS NOT NULL),
          cats AS (SELECT lang AS c, row_number() OVER (ORDER BY lang) - 1 AS idx
                   FROM (SELECT DISTINCT lang FROM r0) d),
          kk AS (SELECT count(*)::BIGINT AS k FROM cats),
          nn AS (SELECT count(*)::BIGINT AS n FROM r0),
          rep AS (SELECT CASE WHEN ('0x' || substr(md5('rr:' || doc_id), 1, 13))::BIGINT::DOUBLE
                                   / 4503599627370496.0 < 0.75
                              THEN r0.lang ELSE c2.c END AS rc
                  FROM r0 CROSS JOIN kk
                  JOIN cats c2
                    ON c2.idx = ('0x' || substr(md5('rrpick:' || doc_id), 1, 13))::BIGINT % kk.k),
          f AS (SELECT rc AS c, count(*)::BIGINT AS n_reported FROM rep GROUP BY rc),
          tt AS (SELECT lang AS c, count(*)::BIGINT AS n_true FROM r0 GROUP BY lang)
          SELECT cats.c AS lang,
                 coalesce(tt.n_true, 0) AS n_true,
                 coalesce(f.n_reported, 0) AS n_reported,
                 floor((coalesce(tt.n_true, 0)::DOUBLE / nn.n::DOUBLE) * 1e6 + 0.5) / 1e6 AS pi_true_r,
                 floor(((coalesce(f.n_reported, 0)::DOUBLE / nn.n::DOUBLE
                         - 0.25 / kk.k::DOUBLE) / 0.75) * 1e6 + 0.5) / 1e6 AS pi_est_r
          FROM cats LEFT JOIN tt USING (c) LEFT JOIN f USING (c)
          CROSS JOIN kk CROSS JOIN nn
          ORDER BY lang"""),

    // -- Good–Turing frequency-of-frequencies over raw TRIGRAMS:
    //    adjusted counts r* and the unseen-mass P0 = N1/N — computed on
    //    the 3-gram domain because the synthetic unigram vocabulary is
    //    31 saturated types (min count 26: no tail at all), while the
    //    trigram domain has a real Zipf tail (9 424 hapaxes at sf0.01)
    //    Two-step projection (withShingles discipline): the token array
    //    binds to an attribute BEFORE the shingle CASE — inlining it
    //    re-evaluates the tokenize pipeline per shingle element in the
    //    interpreted higher-order lambda (measured 12.4 s vs ~1 s)
    QueryDef("q_good_turing", (s, dir) =>
      TextAnalysis.goodTuring(
        t(s, dir, "documents")
          .select(Tokenize.tokenArray(col("text")).as("__toks"))
          .select(explode(
            TextAnalysis.rawShinglesFromToks(col("__toks"), 3)).as("word")),
        maxR = 5),
      // frequency-of-frequencies over raw trigrams (the rsh enumeration of
      // q_quality_repetition), filtered to r <= maxR+1 before the N_{r+1}
      // self-join; exact integer ratios
      """WITH toks0 AS (
           SELECT doc_id,
                  list_filter(
                    list_transform(regexp_split_to_array(text, '\s+'),
                                   x -> regexp_replace(lower(x), '[^a-z]', '', 'g')),
                    w -> w <> '') AS toks
           FROM documents),
          rsh AS (
           SELECT doc_id,
                  CASE WHEN len(toks) = 0 THEN []::VARCHAR[]
                       WHEN len(toks) >= 3
                       THEN list_transform(range(1, len(toks) - 1),
                                           i -> array_to_string(list_slice(toks, i, i + 2), ' '))
                       ELSE [array_to_string(toks, ' ')] END AS sh
           FROM toks0),
          g AS (SELECT unnest(sh) AS word FROM rsh),
          c AS (SELECT word, count(*) AS c FROM g GROUP BY word),
          fof AS (SELECT c AS r, count(*)::BIGINT AS n_r FROM c WHERE c <= 6 GROUP BY c),
          nt AS (SELECT count(*)::BIGINT AS n FROM g),
          p0 AS (SELECT n_r AS n1 FROM fof WHERE r = 1)
          SELECT f.r::BIGINT AS r, f.n_r, coalesce(g.n_r, 0) AS n_next,
                 floor(((f.r + 1)::DOUBLE * coalesce(g.n_r, 0)::DOUBLE / f.n_r::DOUBLE) * 1e6 + 0.5) / 1e6 AS rstar_r,
                 floor((p0.n1::DOUBLE / nt.n::DOUBLE) * 1e6 + 0.5) / 1e6 AS p0_r
          FROM fof f LEFT JOIN fof g ON g.r = f.r + 1
          CROSS JOIN nt CROSS JOIN p0
          WHERE f.r <= 5 ORDER BY r"""),

    // -- per-doc keyword extraction: top-3 terms by tf·ln(N/df), score
    //    rounded BEFORE ranking, window bounded by per-doc vocab
    QueryDef("q_doc_keywords", (s, dir) => {
      Search
        .keywords(
          Tokenize.tokens(t(s, dir, "documents"), "text", Seq("doc_id")),
          k = 3)
        .orderBy("doc_id", "rn")
    },
      s"""WITH $TokCte,
          tf AS (SELECT doc_id, word, count(*) AS tf FROM tok GROUP BY 1, 2),
          df AS (SELECT word, count(*) AS df_t FROM tf GROUP BY 1),
          n AS (SELECT count(DISTINCT doc_id) AS nd FROM tok),
          s AS (SELECT doc_id, word, tf,
                       floor((tf * ln(nd::DOUBLE / df_t)) * 1e4 + 0.5) / 1e4 AS score_r
                FROM tf JOIN df USING (word) CROSS JOIN n),
          f AS (SELECT doc_id, word, tf, score_r,
                       row_number() OVER (PARTITION BY doc_id
                                          ORDER BY score_r DESC, word) AS rn
                FROM s QUALIFY rn <= 3)
          SELECT doc_id, word, tf, score_r, rn FROM f ORDER BY doc_id, rn"""),

    // -- hit snippets: ±3 cleaned tokens around the FIRST query-term
    //    occurrence, matched terms uppercased — the search-UI preview
    QueryDef("q_search_snippets", (s, dir) => {
      Search
        .snippets(t(s, dir, "documents"), Seq("spark", "query"), window = 3)
        .orderBy("doc_id")
    },
      s"""WITH $ToksArrCte,
          mt AS (SELECT doc_id, min(j) AS anchor, count(*) AS n_matches
                 FROM (SELECT doc_id, j, toks[j] AS w
                       FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS j
                             FROM toks_arr) u) x
                 WHERE w IN ('spark', 'query') GROUP BY doc_id)
          SELECT t.doc_id,
                 array_to_string(list_transform(
                   t.toks[greatest(1, m.anchor - 3):least(len(t.toks), m.anchor + 3)],
                   x -> CASE WHEN x IN ('spark', 'query') THEN upper(x) ELSE x END),
                   ' ') AS snippet,
                 m.n_matches
          FROM toks_arr t JOIN mt m USING (doc_id)
          ORDER BY t.doc_id"""),

    // -- boolean retrieval: docs containing ANY query term + match count
    QueryDef("q_search_or", (s, dir) => {
      Search.orQuery(
        InvertedIndex.postings(Tokenize.tokens(t(s, dir, "documents"), "text", Seq("doc_id"))),
        Seq("vector", "stream", "merge"))
    },
      s"""WITH $TokCte
          SELECT doc_id, count(DISTINCT word) AS n_terms
          FROM tok WHERE word IN ('vector', 'stream', 'merge')
          GROUP BY doc_id ORDER BY n_terms DESC, doc_id"""),

    // -- the same boolean queries served from the SHARDED postings (the
    //    100 TB index representation) without concatenating any shard:
    //    must equal the unsharded queries exactly (same oracle SQL)
    QueryDef("q_search_and_sharded", (s, dir) => {
      Search.andQuerySharded(
        InvertedIndex.postingsShardedRaw(
          Tokenize.tokens(t(s, dir, "documents"), "text", Seq("doc_id")), shardWidth = 100L),
        Seq("spark", "query", "join"))
    },
      // identical oracles on purpose: shard-served boolean retrieval must be
      // result-identical to the unsharded queries
      s"""WITH $TokCte
          SELECT doc_id FROM (
            SELECT doc_id, count(DISTINCT word) AS n_terms
            FROM tok WHERE word IN ('spark', 'query', 'join')
            GROUP BY doc_id) g
          WHERE n_terms = 3 ORDER BY doc_id"""),

    QueryDef("q_search_or_sharded", (s, dir) => {
      Search.orQuerySharded(
        InvertedIndex.postingsShardedRaw(
          Tokenize.tokens(t(s, dir, "documents"), "text", Seq("doc_id")), shardWidth = 100L),
        Seq("vector", "stream", "merge"))
    },
      s"""WITH $TokCte
          SELECT doc_id, count(DISTINCT word) AS n_terms
          FROM tok WHERE word IN ('vector', 'stream', 'merge')
          GROUP BY doc_id ORDER BY n_terms DESC, doc_id"""),

    // -- the same boolean queries served from the ON-DISK letter index
    //    (a.txt…z.txt, the reference's output format): write the index
    //    with the exact sink, then answer the query through the
    //    graft-letters DSv2 reader — letter-IN pruning opens only the
    //    query letters' files, the pushed word lookup emits only the query
    //    terms' lines. Full write-then-query lifecycle; must equal
    //    the live-postings queries exactly (same oracle SQL).
    QueryDef("q_search_and_indexed", (s, dir) => {
      val idx = scratch("idx-serve-and", dir)
      graft.sources.LetterSink.writeExact(
        InvertedIndex.postings(Tokenize.tokens(t(s, dir, "documents"), "text", Seq("doc_id"))),
        idx)
      Search.andQueryFromIndex(s, idx, Seq("spark", "query", "join"))
    },
      // served from the on-disk letter index — must equal the live queries
      s"""WITH $TokCte
          SELECT doc_id FROM (
            SELECT doc_id, count(DISTINCT word) AS n_terms
            FROM tok WHERE word IN ('spark', 'query', 'join')
            GROUP BY doc_id) g
          WHERE n_terms = 3 ORDER BY doc_id"""),

    QueryDef("q_search_or_indexed", (s, dir) => {
      val idx = scratch("idx-serve-or", dir)
      graft.sources.LetterSink.writeExact(
        InvertedIndex.postings(Tokenize.tokens(t(s, dir, "documents"), "text", Seq("doc_id"))),
        idx)
      Search.orQueryFromIndex(s, idx, Seq("vector", "stream", "merge"))
    },
      s"""WITH $TokCte
          SELECT doc_id, count(DISTINCT word) AS n_terms
          FROM tok WHERE word IN ('vector', 'stream', 'merge')
          GROUP BY doc_id ORDER BY n_terms DESC, doc_id"""),

    // -- TF-IDF ranked retrieval
    QueryDef("q_search_tfidf", (s, dir) => {
      Search
        .tfidfQuery(
          Tokenize.tokens(t(s, dir, "documents"), "text", Seq("doc_id")),
          Seq("spark", "vector", "window"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
        .orderBy(desc("score"), asc("doc_id"))
    },
      s"""WITH $TokCte,
          tf AS (SELECT doc_id, word, count(*) AS tf FROM tok
                 WHERE word IN ('spark', 'vector', 'window') GROUP BY doc_id, word),
          dfs AS (SELECT word, count(DISTINCT doc_id) AS df_t FROM tf GROUP BY word),
          n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tok)
          SELECT doc_id, floor((sum(tf * ln(n_docs::DOUBLE / df_t))) * 1e4 + 0.5) / 1e4 AS score
          FROM tf JOIN dfs USING (word) CROSS JOIN n
          GROUP BY doc_id ORDER BY score DESC, doc_id"""),

    // -- hybrid retrieval via reciprocal-rank fusion: BM25 lexical ranks
    //    fused with embedding-cosine ANN ranks (vec_id aliased to doc_id
    //    on this synthetic corpus) — rank-based, no score calibration
    QueryDef("q_hybrid_search", (s, dir) => {
      val toks = Tokenize.tokens(t(s, dir, "documents"), "text", Seq("doc_id"))
      val lex = Search.rankResults(
        Search.bm25Query(toks, Seq("spark", "vector", "window")))
      val emb = t(s, dir, "embeddings")
      val ann = Similarity
        .bruteForceTopK(emb, emb.where(col("vec_id") === 5), k = 50)
        .select(col("vec_id").as("doc_id"), col("rank"))
      Search
        .rrfFuse(Seq(lex, ann), k = 15)
        .orderBy(desc("rrf_r"), asc("doc_id"))
    },
      s"""WITH $TokCte,
          dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
          stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
          tf AS (SELECT doc_id, word, count(*) AS tf FROM tok
                 WHERE word IN ('spark', 'vector', 'window') GROUP BY doc_id, word),
          dfs AS (SELECT word, count(DISTINCT doc_id) AS df_t FROM tf GROUP BY word),
          bscore AS (
            SELECT doc_id,
                   sum(idf * (tf * (1.2 + 1.0)) /
                       (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))) AS score
            FROM (SELECT tf.doc_id, tf.tf, dl.dl, n_docs, avgdl,
                         ln((n_docs - df_t + 0.5) / (df_t + 0.5) + 1.0) AS idf
                  FROM tf JOIN dfs USING (word)
                  JOIN dl ON dl.doc_id = tf.doc_id
                  CROSS JOIN stats) u
            GROUP BY doc_id),
          lex AS (SELECT doc_id,
                         row_number() OVER (ORDER BY floor(score * 1e6 + 0.5) / 1e6 DESC, doc_id) AS r1
                  FROM bscore QUALIFY r1 <= 1000),
          e AS (SELECT vec_id, embedding,
                       sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
                            i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))) AS nrm
                FROM embeddings),
          q AS (SELECT vec_id AS q_id, embedding AS qv, nrm AS qn FROM e WHERE vec_id = 5),
          pairs AS (
            SELECT e.vec_id,
                   list_sum(list_transform(range(1, len(e.embedding) + 1),
                        i -> qv[i]::DOUBLE * e.embedding[i]::DOUBLE)) / (qn * e.nrm) AS cos
            FROM q CROSS JOIN e WHERE e.vec_id <> q_id),
          ann AS (SELECT vec_id AS doc_id, rank AS r2 FROM (
                    SELECT vec_id,
                           row_number() OVER (ORDER BY floor(cos * 1e6 + 0.5) / 1e6 DESC, vec_id) AS rank
                    FROM pairs) x
                  WHERE rank <= 50),
          f AS (SELECT coalesce(lex.doc_id, ann.doc_id) AS doc_id, r1, r2
                FROM lex FULL OUTER JOIN ann ON lex.doc_id = ann.doc_id)
          SELECT doc_id,
                 (CASE WHEN r1 IS NOT NULL THEN 1 ELSE 0 END
                  + CASE WHEN r2 IS NOT NULL THEN 1 ELSE 0 END) AS n_lists,
                 floor((coalesce(1.0 / (60 + r1), 0) + coalesce(1.0 / (60 + r2), 0)) * 1e8 + 0.5) / 1e8 AS rrf_r
          FROM f ORDER BY rrf_r DESC, doc_id LIMIT 15"""),

    // -- pseudo-relevance-feedback expansion: BM25 top-5 docs lift the 5
    //    best new terms (feedback tf × corpus idf), rescore with the
    //    expanded set — the recall lever when the literal query
    //    vocabulary undershoots. Both cuts are bounded TakeOrdereds; the
    //    data-dependent term set joins as a broadcast relation.
    QueryDef("q_search_prf", (s, dir) => {
      Search.prfExpand(
        Tokenize.tokens(t(s, dir, "documents"), "text", Seq("doc_id")),
        Seq("spark", "vector", "window"),
        fbDocs = 5, expandTerms = 5, k = 15)
    },
      // PRF expansion: base BM25 (identical arithmetic to q_search_bm25's
      // oracle), rounded-score top-5 feedback cut, feedback-tf × ln(N/df)
      // expansion weights, UNION'd term set, rescore — every cut uses the
      // same floor rounding + id/word tiebreaks as the Spark plan
      s"""WITH $TokCte,
          dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
          stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
          btf AS (SELECT doc_id, word, count(*) AS tf FROM tok
                  WHERE word IN ('spark', 'vector', 'window') GROUP BY doc_id, word),
          bdf AS (SELECT word, count(DISTINCT doc_id) AS df_t FROM btf GROUP BY word),
          bscore AS (
            SELECT doc_id,
                   sum(idf * (tf * (1.2 + 1.0)) /
                       (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))) AS score
            FROM (SELECT btf.doc_id, btf.tf, dl.dl, n_docs, avgdl,
                         ln((n_docs - df_t + 0.5) / (df_t + 0.5) + 1.0) AS idf
                  FROM btf JOIN bdf USING (word)
                  JOIN dl ON dl.doc_id = btf.doc_id
                  CROSS JOIN stats) u
            GROUP BY doc_id),
          fb AS (SELECT doc_id FROM (
                   SELECT doc_id, floor(score * 1e6 + 0.5) / 1e6 AS s FROM bscore) z
                 ORDER BY s DESC, doc_id LIMIT 5),
          fbtf AS (SELECT word, count(*) AS fbtf
                   FROM tok JOIN fb USING (doc_id)
                   WHERE word NOT IN ('spark', 'vector', 'window')
                   GROUP BY word),
          cdf AS (SELECT tok.word, count(DISTINCT tok.doc_id) AS cdf
                  FROM tok JOIN (SELECT word FROM fbtf) c ON tok.word = c.word
                  GROUP BY tok.word),
          ex AS (SELECT word FROM (
                   SELECT f.word,
                          floor((f.fbtf * ln(s.n_docs::DOUBLE / c.cdf)) * 1e6 + 0.5) / 1e6 AS w
                   FROM fbtf f JOIN cdf c ON f.word = c.word CROSS JOIN stats s) z
                 ORDER BY w DESC, word LIMIT 5),
          at AS (SELECT word FROM ex
                 UNION SELECT unnest(['spark', 'vector', 'window']) AS word),
          tf2 AS (SELECT doc_id, tok.word, count(*) AS tf
                  FROM tok JOIN at ON tok.word = at.word GROUP BY doc_id, tok.word),
          df2 AS (SELECT word, count(DISTINCT doc_id) AS df_t FROM tf2 GROUP BY word),
          sc AS (
            SELECT doc_id,
                   sum(idf * (tf * (1.2 + 1.0)) /
                       (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))) AS score
            FROM (SELECT tf2.doc_id, tf2.tf, dl.dl, n_docs, avgdl,
                         ln((n_docs - df2.df_t + 0.5) / (df2.df_t + 0.5) + 1.0) AS idf
                  FROM tf2 JOIN df2 USING (word)
                  JOIN dl ON dl.doc_id = tf2.doc_id
                  CROSS JOIN stats) u
            GROUP BY doc_id)
          SELECT doc_id, floor(score * 1e4 + 0.5) / 1e4 AS score_r
          FROM sc ORDER BY score_r DESC, doc_id LIMIT 15"""),

    // -- percolation (reverse search): match a registry of 5 stored
    //    conjunctive queries against every doc in ONE corpus pass —
    //    the alerting/routing primitive. Registry broadcast; corpus work
    //    is one distinct + one (qid, doc) partial agg; a doc matches
    //    when its matched-term count equals the query's term count.
    QueryDef("q_percolate", (s, dir) => {
      val toks = Tokenize.tokens(t(s, dir, "documents"), "text", Seq("doc_id"))
      Search.percolate(toks, Seq(
        1 -> Seq("spark", "window"),
        2 -> Seq("vector", "index"),
        3 -> Seq("the", "of", "and"),
        4 -> Seq("zyzzyva"),
        5 -> Seq("data", "pipeline")))
        .orderBy("qid", "doc_id")
    },
      // duplicate terms in a doc count once (DISTINCT doc, word); conjunctive
      // match = matched-term count equals the stored query's term count
      s"""WITH $TokCte,
          reg AS (SELECT * FROM (VALUES
                    (1, 'spark', 2), (1, 'window', 2),
                    (2, 'vector', 2), (2, 'index', 2),
                    (3, 'the', 3), (3, 'of', 3), (3, 'and', 3),
                    (4, 'zyzzyva', 1),
                    (5, 'data', 2), (5, 'pipeline', 2)) AS t(qid, word, n_terms)),
          dw AS (SELECT DISTINCT doc_id, word FROM tok),
          m AS (SELECT qid, doc_id, count(*) AS c, max(n_terms) AS nt
                FROM dw JOIN reg USING (word) GROUP BY 1, 2)
          SELECT qid, doc_id FROM m WHERE c = nt ORDER BY qid, doc_id"""),

    // -- truncated rank-biased overlap between the BM25 and TF-IDF
    //    rankings of the same query (Webber TOIS'10): top-weighted
    //    ranking agreement (geometric p-decay — Kendall/Spearman weight
    //    all positions equally). Each shared doc's contribution is a
    //    PRECOMPUTED constant indexed by max(ra, rb), so the metric is
    //    one equijoin of two ≤k-row rank relations + an array lookup.
    QueryDef("q_rbo_rankers", (s, dir) => {
      val toks = Tokenize.tokens(t(s, dir, "documents"), "text", Seq("doc_id"))
      val terms = Seq("spark", "vector", "window")
      Search.rboEval(
        Search.rankResults(Search.bm25Query(toks, terms)),
        Search.rankResults(Search.tfidfQuery(toks, terms)),
        k = 10, p = 0.9)
    },
      rboSql(k = 10, p = 0.9)),

    // -- unordered proximity search: docs where 'spark', 'vector', and
    //    'window' all fit inside a 10-token span, with the minimal span —
    //    the relevance signal between AND and exact phrase
    QueryDef("q_search_near", (s, dir) => {
      Search
        .nearQuery(t(s, dir, "documents"), Seq("spark", "vector", "window"), window = 10)
        .orderBy("doc_id")
    },
      """WITH toks0 AS (
           SELECT doc_id,
                  list_filter(
                    list_transform(regexp_split_to_array(text, '\s+'),
                                   x -> regexp_replace(lower(x), '[^a-z]', '', 'g')),
                    w -> w <> '') AS toks
           FROM documents),
         ptab AS (
           SELECT doc_id, i - 1 AS pos, toks[i] AS word
           FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM toks0) u),
         p0 AS (SELECT doc_id, pos FROM ptab WHERE word = 'spark'),
         p1 AS (SELECT doc_id, pos FROM ptab WHERE word = 'vector'),
         p2 AS (SELECT doc_id, pos FROM ptab WHERE word = 'window'),
         spans AS (
           SELECT p0.doc_id,
                  greatest(p0.pos, p1.pos, p2.pos) - least(p0.pos, p1.pos, p2.pos) AS span
           FROM p0 JOIN p1 USING (doc_id) JOIN p2 USING (doc_id))
         SELECT doc_id, min(span) AS min_span FROM spans
         GROUP BY 1 HAVING min(span) <= 10 ORDER BY doc_id"""),

    // -- "more like this": top-10 docs by TF-IDF cosine to doc 7 — doc-to-
    //    doc retrieval; query vector broadcast, candidates index-served via
    //    the shared-term join, top-k as TakeOrderedAndProject
    QueryDef("q_more_like_this", (s, dir) => {
      Search
        .moreLikeThis(
          Tokenize.tokens(t(s, dir, "documents"), "text", Seq("doc_id")),
          queryId = 7L, k = 10)
        .orderBy(desc("cos_sim"), asc("doc_id"))
    },
      s"""WITH $TokCte,
          tf AS (SELECT doc_id, word, count(*) AS tf FROM tok GROUP BY 1, 2),
          dft AS (SELECT word, count(*) AS df_t FROM tf GROUP BY 1),
          nd AS (SELECT count(DISTINCT doc_id)::DOUBLE AS n_docs FROM tok),
          w AS (SELECT doc_id, word, tf * ln(n_docs / df_t) AS wgt
                FROM tf JOIN dft USING (word) CROSS JOIN nd),
          nrm AS (SELECT doc_id, sqrt(sum(wgt * wgt)) AS nrm FROM w GROUP BY 1),
          qv AS (SELECT word, wgt AS q_wgt FROM w WHERE doc_id = 7),
          qn AS (SELECT nrm AS q_nrm FROM nrm WHERE doc_id = 7),
          d AS (SELECT w.doc_id, sum(w.wgt * q_wgt) AS dot
                FROM w JOIN qv USING (word) WHERE w.doc_id <> 7 GROUP BY 1)
          SELECT d.doc_id,
                 floor((dot / (nrm * q_nrm)) * 1e4 + 0.5) / 1e4 AS cos_sim
          FROM d JOIN nrm USING (doc_id) CROSS JOIN qn
          ORDER BY cos_sim DESC, doc_id LIMIT 10"""),

    // -- the same TF-IDF served FROM the tf-bearing index + doc-length
    //    sidecar (no corpus re-tokenization on the query path); must equal
    //    q_search_tfidf exactly (same oracle SQL)
    QueryDef("q_search_tfidf_indexed", (s, dir) => {
      val toks = Tokenize.tokens(t(s, dir, "documents"), "text", Seq("doc_id"))
      Search
        .tfidfIndexed(
          InvertedIndex.tfPostings(toks),
          InvertedIndex.docLengths(toks),
          Seq("spark", "vector", "window"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
        .orderBy(desc("score"), asc("doc_id"))
    },
      // identical oracle on purpose: index-served TF-IDF must equal the
      // token-stream TF-IDF at the 4-dp query surface
      s"""WITH $TokCte,
          tf AS (SELECT doc_id, word, count(*) AS tf FROM tok
                 WHERE word IN ('spark', 'vector', 'window') GROUP BY doc_id, word),
          dfs AS (SELECT word, count(DISTINCT doc_id) AS df_t FROM tf GROUP BY word),
          n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tok)
          SELECT doc_id, floor((sum(tf * ln(n_docs::DOUBLE / df_t))) * 1e4 + 0.5) / 1e4 AS score
          FROM tf JOIN dfs USING (word) CROSS JOIN n
          GROUP BY doc_id ORDER BY score DESC, doc_id"""),

    // -- BM25 ranked retrieval (Okapi k1=1.2, b=0.75)
    QueryDef("q_search_bm25", (s, dir) => {
      Search
        .bm25Query(
          Tokenize.tokens(t(s, dir, "documents"), "text", Seq("doc_id")),
          Seq("spark", "vector", "window"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
        .orderBy(desc("score"), asc("doc_id"))
    },
      // mirrors Search.bm25Query term by term: (1.2 + 1.0) and
      // (1.0 - 0.75 + 0.75 * dl / avgdl) are written exactly as the Spark
      // side computes them so the doubles match bit for bit
      s"""WITH $TokCte,
          dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
          stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
          tf AS (SELECT doc_id, word, count(*) AS tf FROM tok
                 WHERE word IN ('spark', 'vector', 'window') GROUP BY doc_id, word),
          dfs AS (SELECT word, count(DISTINCT doc_id) AS df_t FROM tf GROUP BY word)
          SELECT doc_id,
                 floor((sum(idf * (tf * (1.2 + 1.0)) /
                            (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)))) * 1e4 + 0.5) / 1e4 AS score
          FROM (SELECT tf.doc_id, tf.tf, dl.dl, n_docs, avgdl,
                       ln((n_docs - df_t + 0.5) / (df_t + 0.5) + 1.0) AS idf
                FROM tf JOIN dfs USING (word)
                JOIN dl ON dl.doc_id = tf.doc_id
                CROSS JOIN stats) u
          GROUP BY doc_id ORDER BY score DESC, doc_id"""),

    // -- learning-to-rank feature export for the same query: BM25 +
    //    TF-IDF + match/coverage/length per candidate doc in ONE pass —
    //    the training table a ranker consumes
    QueryDef("q_ltr_features", (s, dir) => {
      Search
        .ltrFeatures(
          Tokenize.tokens(t(s, dir, "documents"), "text", Seq("doc_id")),
          Seq("spark", "vector", "window"))
        .orderBy("doc_id")
    },
      // same tf/df/dl join as the bm25 oracle, every LTR feature off it
      // (mirror of Search.ltrFeatures)
      s"""WITH $TokCte,
          dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
          stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
          tf AS (SELECT doc_id, word, count(*) AS tf FROM tok
                 WHERE word IN ('spark', 'vector', 'window') GROUP BY doc_id, word),
          dfs AS (SELECT word, count(DISTINCT doc_id) AS df_t FROM tf GROUP BY word),
          u AS (SELECT tf.doc_id, tf.tf, dl.dl, n_docs, avgdl, df_t,
                       ln((n_docs - df_t + 0.5) / (df_t + 0.5) + 1.0) AS idf
                FROM tf JOIN dfs USING (word)
                JOIN dl ON dl.doc_id = tf.doc_id
                CROSS JOIN stats)
          SELECT doc_id, max(dl)::BIGINT AS dl, count(*)::BIGINT AS n_matched,
                 sum(tf)::BIGINT AS sum_tf,
                 floor((sum(idf * (tf * (1.2 + 1.0)) /
                            (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)))) * 1e4 + 0.5) / 1e4
                   AS bm25_r,
                 floor((sum(tf::DOUBLE * ln(n_docs::DOUBLE / df_t::DOUBLE))) * 1e4 + 0.5) / 1e4
                   AS tfidf_r,
                 floor((count(*)::DOUBLE / 3.0) * 1e4 + 0.5) / 1e4 AS coverage_r
          FROM u GROUP BY doc_id ORDER BY doc_id"""),

    // -- leave-last-basket-out hit-rate@10: item-item CF trained on each
    //    customer's earlier orders vs the popularity baseline on the
    //    held-out last basket — the offline recommender eval
    QueryDef("q_cf_eval", (s, dir) =>
      operators.Recommend
        .hitRateEval(t(s, dir, "orders"), t(s, dir, "lineitem"))
        .orderBy("method"),
      // leave-last-out split + the q_item_cf sim CTEs on the TRAIN slice;
      // per-candidate scores sum 1e6-scaled rounded cosines (exact longs)
      """WITH uo AS (SELECT o_custkey AS cust, o_orderkey AS ok, o_orderdate AS dt
                     FROM orders),
         lastp AS (SELECT cust, ok AS last_ok FROM (
                     SELECT cust, ok,
                            row_number() OVER (PARTITION BY cust
                                               ORDER BY dt DESC, ok DESC) AS rn,
                            count(*) OVER (PARTITION BY cust) AS no
                     FROM uo) z
                   WHERE rn = 1 AND no >= 2),
         li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS it FROM lineitem),
         tg AS (SELECT uo.cust, li.ok, li.it, lastp.last_ok
                FROM li JOIN uo USING (ok) JOIN lastp USING (cust)),
         held AS (SELECT DISTINCT cust, it FROM tg WHERE ok = last_ok),
         ob AS (SELECT DISTINCT ok, it FROM tg WHERE ok <> last_ok),
         ui AS (SELECT DISTINCT cust, it FROM tg WHERE ok <> last_ok),
         ni AS (SELECT it, count(*)::BIGINT AS n FROM ob GROUP BY 1),
         pr AS (SELECT a.it AS i, b.it AS j, count(*)::BIGINT AS co
                FROM ob a JOIN ob b ON a.ok = b.ok AND a.it < b.it
                GROUP BY 1, 2 HAVING count(*) >= 2),
         sc AS (SELECT pr.i, pr.j,
                       floor((pr.co::DOUBLE / sqrt(x.n::DOUBLE * y.n::DOUBLE))
                             * 1e6 + 0.5) / 1e6 AS cos_r
                FROM pr JOIN ni x ON pr.i = x.it JOIN ni y ON pr.j = y.it),
         sym AS (SELECT i AS item, j AS neighbor, cos_r FROM sc
                 UNION ALL SELECT j, i, cos_r FROM sc),
         sims AS (SELECT item, neighbor, cos_r FROM (
                    SELECT item, neighbor, cos_r,
                           row_number() OVER (PARTITION BY item
                                              ORDER BY cos_r DESC, neighbor) AS rk
                    FROM sym) z WHERE rk <= 3),
         cand AS (SELECT ui.cust, s.neighbor,
                         sum(floor(s.cos_r * 1e6 + 0.5)::BIGINT)::BIGINT AS s6
                  FROM ui JOIN sims s ON s.item = ui.it GROUP BY 1, 2),
         cand2 AS (SELECT cand.cust, cand.neighbor, cand.s6
                   FROM cand ANTI JOIN ui
                   ON ui.cust = cand.cust AND ui.it = cand.neighbor),
         recs AS (SELECT cust, neighbor FROM (
                    SELECT cust, neighbor,
                           row_number() OVER (PARTITION BY cust
                                              ORDER BY s6 DESC, neighbor) AS rn
                    FROM cand2) z WHERE rn <= 10),
         cfh AS (SELECT count(DISTINCT recs.cust)::BIGINT AS n
                 FROM recs JOIN held ON held.cust = recs.cust AND held.it = recs.neighbor),
         pop AS (SELECT it FROM (SELECT it, count(*) AS n FROM ob GROUP BY it
                                 ORDER BY n DESC, it LIMIT 10) z),
         poph AS (SELECT count(DISTINCT held.cust)::BIGINT AS n
                  FROM held JOIN pop ON pop.it = held.it),
         elig AS (SELECT count(*)::BIGINT AS n_users FROM lastp)
         SELECT * FROM (
           SELECT 'itemcf' AS method, n_users, cfh.n AS n_hit,
                  floor((cfh.n::DOUBLE / n_users::DOUBLE) * 1e6 + 0.5) / 1e6 AS hitrate_r
           FROM elig CROSS JOIN cfh
           UNION ALL
           SELECT 'popularity', n_users, poph.n,
                  floor((poph.n::DOUBLE / n_users::DOUBLE) * 1e6 + 0.5) / 1e6
           FROM elig CROSS JOIN poph) f
         ORDER BY method"""),

    // -- the same BM25 served FROM the tf-bearing index + doc-length
    //    sidecar (no corpus re-tokenization on the query path); must equal
    //    q_search_bm25 exactly (same oracle SQL)
    QueryDef("q_search_bm25_indexed", (s, dir) => {
      val toks = Tokenize.tokens(t(s, dir, "documents"), "text", Seq("doc_id"))
      Search
        .bm25Indexed(
          InvertedIndex.tfPostings(toks),
          InvertedIndex.docLengths(toks),
          Seq("spark", "vector", "window"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
        .orderBy(desc("score"), asc("doc_id"))
    },
      // identical oracle on purpose: index-served BM25 must equal the
      // token-stream BM25 bit for bit
      s"""WITH $TokCte,
          dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
          stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
          tf AS (SELECT doc_id, word, count(*) AS tf FROM tok
                 WHERE word IN ('spark', 'vector', 'window') GROUP BY doc_id, word),
          dfs AS (SELECT word, count(DISTINCT doc_id) AS df_t FROM tf GROUP BY word)
          SELECT doc_id,
                 floor((sum(idf * (tf * (1.2 + 1.0)) /
                            (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)))) * 1e4 + 0.5) / 1e4 AS score
          FROM (SELECT tf.doc_id, tf.tf, dl.dl, n_docs, avgdl,
                       ln((n_docs - df_t + 0.5) / (df_t + 0.5) + 1.0) AS idf
                FROM tf JOIN dfs USING (word)
                JOIN dl ON dl.doc_id = tf.doc_id
                CROSS JOIN stats) u
          GROUP BY doc_id ORDER BY score DESC, doc_id"""),

    // -- positional phrase search (consecutive tokens), from raw docs
    QueryDef("q_search_phrase", (s, dir) =>
      Search.phraseQuery(t(s, dir, "documents"), Seq("data", "query")),
      s"""WITH $ToksArrCte,
          p AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos, unnest(toks) AS word
                FROM toks_arr)
          SELECT DISTINCT a.doc_id FROM p a JOIN p b
          ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
          WHERE a.word = 'data' AND b.word = 'query'
          ORDER BY a.doc_id"""),

    // -- skip-gram (±2-token window) PMI: the word2vec co-occurrence
    //    matrix vs q_token_pmi's whole-document granularity — positional
    //    EQUI-joins (offsets explode before the join), marginals from
    //    the pair stream via vocab-keyed shuffle joins, one broadcast
    //    scalar total
    QueryDef("q_skipgram_pmi", (s, dir) =>
      operators.Cooccurrence.skipgramPmi(t(s, dir, "documents"), window = 2, minPair = 5)
        .orderBy("w1", "w2"),
      // positional pair stream (offsets 1..2 as explicit equi-conditions),
      // marginals from the pair relation itself (mirror of
      // Cooccurrence.skipgramPmi)
      s"""WITH $ToksArrCte,
          p AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos, unnest(toks) AS w
                FROM toks_arr),
          pr AS (SELECT least(a.w, b.w) AS w1, greatest(a.w, b.w) AS w2
                 FROM p a JOIN p b ON b.doc_id = a.doc_id
                   AND (b.pos = a.pos + 1 OR b.pos = a.pos + 2)),
          c AS MATERIALIZED (SELECT w1, w2, count(*)::BIGINT AS n_ab
               FROM pr GROUP BY 1, 2),
          m AS MATERIALIZED (SELECT w, sum(n_ab)::BIGINT AS n_w FROM (
                 SELECT w1 AS w, n_ab FROM c UNION ALL SELECT w2, n_ab FROM c) u
               GROUP BY 1),
          t AS (SELECT sum(n_ab)::BIGINT AS tt FROM c)
          SELECT c.w1, c.w2, c.n_ab, ma.n_w AS n_a, mb.n_w AS n_b,
                 floor(ln(c.n_ab::DOUBLE * tt::DOUBLE
                          / (ma.n_w::DOUBLE * mb.n_w::DOUBLE)) * 1e6 + 0.5) / 1e6 AS pmi_r
          FROM c JOIN m ma ON ma.w = c.w1 JOIN m mb ON mb.w = c.w2 CROSS JOIN t
          WHERE c.n_ab >= 5 ORDER BY w1, w2"""),

    // -- TextRank keywords: top-20 PageRank nodes of the ±2-window word
    //    co-occurrence graph (edges seen >= 3 times) — graph-centrality
    //    keyword extraction beside q_keywords' tf-idf; composes the
    //    skipgram pair stream with the pagerank loop, cut on the ROUNDED
    //    score with word tie-break
    QueryDef("q_textrank", (s, dir) =>
      operators.Cooccurrence.textrank(t(s, dir, "documents"),
        window = 2, minPair = 3, iters = 5, k = 20), {
      // TextRank mirror: the skipgram pair CTEs -> >=3 edges -> symmetrized
      // simple graph -> the pagerankSql unroll (5 rounds, d = 0.85) ->
      // rounded top-20 with word tie-break; graph CTEs MATERIALIZED so the
      // positional join never re-inlines per unrolled round
      val d = 0.85
      val steps = (1 to 5).map { k =>
        s"""pr$k AS (SELECT t.node, ((1.0 - $d) / n.n + $d * t.mass) AS pr
                     FROM (SELECT e.dst AS node, sum(p.pr / deg.degree) AS mass
                           FROM e JOIN pr${k - 1} p ON e.src = p.node
                                  JOIN deg ON deg.node = e.src
                           GROUP BY e.dst) t CROSS JOIN n)"""
      }.mkString(",\n")
      s"""WITH $ToksArrCte,
          p AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos, unnest(toks) AS w
                FROM toks_arr),
          pr_ AS (SELECT least(a.w, b.w) AS w1, greatest(a.w, b.w) AS w2
                  FROM p a JOIN p b ON b.doc_id = a.doc_id
                    AND (b.pos = a.pos + 1 OR b.pos = a.pos + 2)),
          ed AS MATERIALIZED (SELECT w1, w2 FROM pr_ GROUP BY w1, w2 HAVING count(*) >= 3),
          e AS MATERIALIZED (SELECT w1 AS src, w2 AS dst FROM ed WHERE w1 <> w2
                             UNION
                             SELECT w2, w1 FROM ed WHERE w1 <> w2),
          deg AS MATERIALIZED (SELECT src AS node, count(*) AS degree FROM e GROUP BY src),
          n AS (SELECT count(*)::DOUBLE AS n FROM deg),
          pr0 AS (SELECT node, 1.0 / n.n AS pr FROM deg CROSS JOIN n),
          $steps
          SELECT node AS word, floor((pr) * 1e6 + 0.5) / 1e6 AS pr_r FROM pr5
          ORDER BY pr_r DESC, word LIMIT 20"""
    }),

    // -- KWIC concordance: every 'data' occurrence with its ±3-token
    //    window, first 200 in (doc, pos) order — map-side match-position
    //    fan-out (per MATCH, not per token) + TakeOrderedAndProject
    QueryDef("q_kwic", (s, dir) =>
      Search.kwic(t(s, dir, "documents"), "data", width = 3, k = 200),
      // 1-based token positions; slice bounds clamp at document edges and
      // the empty-slice NULL coalesces to '' (Spark array_join is '' on
      // empty) — mirror of Search.kwic
      s"""WITH $ToksArrCte,
          p AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos, unnest(toks) AS word
                FROM toks_arr),
          m AS (SELECT p.doc_id, p.pos, t.toks FROM p JOIN toks_arr t USING (doc_id)
                WHERE p.word = 'data')
          SELECT doc_id, pos,
                 coalesce(array_to_string(toks[greatest(pos - 3, 1):pos - 1], ' '), '')
                   AS left_ctx,
                 coalesce(array_to_string(toks[pos + 1:least(pos + 3, len(toks))], ' '), '')
                   AS right_ctx
          FROM m ORDER BY doc_id, pos LIMIT 200"""),

    // -- same phrase served from the positional index (identical oracle:
    //    the two implementations must agree)
    QueryDef("q_search_phrase_indexed", (s, dir) =>
      Search.phraseQueryIndexed(
        InvertedIndex.positionalPostings(t(s, dir, "documents")),
        Seq("data", "query")),
      // identical oracle on purpose: index-served phrase search must agree
      s"""WITH $ToksArrCte,
          p AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos, unnest(toks) AS word
                FROM toks_arr)
          SELECT DISTINCT a.doc_id FROM p a JOIN p b
          ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
          WHERE a.word = 'data' AND b.word = 'query'
          ORDER BY a.doc_id"""),

    // -- same phrase served from the SHARDED positional index (the scale
    //    representation; the query path is literally the same operator)
    QueryDef("q_search_phrase_indexed_sharded", (s, dir) =>
      Search.phraseQueryIndexed(
        InvertedIndex.positionalPostingsSharded(t(s, dir, "documents"), shardWidth = 100L),
        Seq("data", "query")),
      // identical again: the sharded positional index serves the same answer
      s"""WITH $ToksArrCte,
          p AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos, unnest(toks) AS word
                FROM toks_arr)
          SELECT DISTINCT a.doc_id FROM p a JOIN p b
          ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
          WHERE a.word = 'data' AND b.word = 'query'
          ORDER BY a.doc_id"""),

    // -- 26-way partition-key histogram
    QueryDef("q_letter_stats", (s, dir) => {
      InvertedIndex
        .postings(Tokenize.tokens(t(s, dir, "documents"), "text", Seq("doc_id")))
        .groupBy(col("letter"))
        .agg(count(lit(1)).as("n_words"), sum(col("df")).as("sum_df"))
        .orderBy("letter")
    },
      s"""WITH $TokCte,
          p AS (SELECT substr(word, 1, 1) AS letter, count(DISTINCT doc_id) AS df
                FROM tok GROUP BY word)
          SELECT letter, count(*) AS n_words, sum(df)::BIGINT AS sum_df
          FROM p GROUP BY letter ORDER BY letter"""),

    // -- skew-salted aggregation through the declared 100 TB skew lever:
    //    word frequencies via (word, salt) partial counts + tiny roll-up —
    //    result must equal the plain groupBy count exactly
    QueryDef("q_token_freq_salted", (s, dir) => {
      graft.plans.Salting
        .saltedCount(
          Tokenize.tokens(t(s, dir, "documents"), "text", Seq("doc_id")),
          "word", "doc_id", salts = 8)
        .orderBy("word")
    },
      // the salted two-stage aggregate must be indistinguishable from the
      // plain one — the oracle IS the plain count
      s"""WITH $TokCte
          SELECT word, count(*) AS n FROM tok GROUP BY word ORDER BY word"""),

    // ============================== training-data pipeline: text analysis

    // -- exact dedup on content hash
    QueryDef("q_dedup_exact", (s, dir) =>
      Dedup.exact(t(s, dir, "documents")).orderBy("keep_id"),
      """SELECT min(doc_id) AS keep_id, count(*) AS n_dups
         FROM documents GROUP BY text ORDER BY keep_id"""),

    // -- per-doc duplication EXPOSURE: fraction of a doc's distinct
    //    5-gram shingles appearing in ≥1 OTHER doc — the "how much of me
    //    is boilerplate" score pairwise dedup verdicts can't give. One
    //    shingle-keyed shuffle; the shingle df rides that exchange as a
    //    window count (the pagerank eDeg discipline), then one doc agg.
    // -- boilerplate LEADERBOARD: the most-copied exact 5-gram spans
    //    across the corpus (df + lowest example doc) — dupExposure says
    //    WHICH DOCS are assembled from corpus-common spans; this says
    //    WHICH SPANS, i.e. what to strip. One partial-agg groupBy + a
    //    bounded TakeOrdered; nothing pairwise.
    QueryDef("q_top_boilerplate", (s, dir) => {
      TextAnalysis.withShingles(t(s, dir, "documents"), "text", 5)
        .select(col("doc_id"), explode(col("shingles")).as("sh"))
        .groupBy(col("sh"))
        .agg(count(lit(1)).as("df"), min(col("doc_id")).as("example_doc"))
        .where(col("df") >= 2)
        .orderBy(desc("df"), asc("sh"))
        .limit(20)
    },
      // shingles are distinct per doc, so the per-shingle window count IS
      // its doc frequency — mirror of Dedup.dupExposure
      // same shingle enumeration, df + min-doc leaderboard, top-20 by
      // (df DESC, shingle ASC)
      s"""WITH ${shinglesCte(5)},
          ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh)
          SELECT s AS sh, count(*)::BIGINT AS df, min(doc_id) AS example_doc
          FROM ex GROUP BY s HAVING count(*) >= 2
          ORDER BY df DESC, sh LIMIT 20"""),

    QueryDef("q_dup_exposure", (s, dir) =>
      Dedup.dupExposure(t(s, dir, "documents"), k = 5).orderBy("doc_id"),
      s"""WITH ${shinglesCte(5)},
          ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
          d AS (SELECT doc_id, count(*) OVER (PARTITION BY s) AS sdf FROM ex)
          SELECT doc_id, count(*)::BIGINT AS n_shingles,
                 sum((sdf > 1)::INT)::BIGINT AS n_shared,
                 floor((sum((sdf > 1)::INT)::DOUBLE / count(*)) * 1e4 + 0.5) / 1e4 AS exposure_r
          FROM d GROUP BY doc_id ORDER BY doc_id"""),

    // -- token counting (whitespace + BPE-ish) per language
    QueryDef("q_token_count", (s, dir) => {
      t(s, dir, "documents")
        .select(
          col("lang"),
          TextAnalysis.wsTokenCount(col("text")).as("n_ws"),
          TextAnalysis.bpeishTokenCount(col("text")).as("n_bpe"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_ws")).as("sum_ws"),
          sum(col("n_bpe")).as("sum_bpe"),
          round(avg(col("n_ws")), 2).as("avg_ws"))
        .orderBy("lang")
    },
      """SELECT lang, count(*) AS n_docs, sum(n_ws)::BIGINT AS sum_ws, sum(n_bpe)::BIGINT AS sum_bpe,
                floor((avg(n_ws)) * 1e2 + 0.5) / 1e2 AS avg_ws
         FROM (SELECT lang,
                      len(regexp_split_to_array(text, '\s+')) AS n_ws,
                      len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+')) AS n_bpe
               FROM documents) u
         GROUP BY lang ORDER BY lang"""),

    // -- per-document quality scoring
    QueryDef("q_quality_score", (s, dir) => {
      TextAnalysis
        .withQualityMetrics(t(s, dir, "documents"), "text")
        .select(
          col("doc_id"),
          col("n_ws"),
          col("n_alpha"),
          round(col("stop_ratio"), 4).as("stop_ratio"),
          round(col("score"), 4).as("score"))
        .orderBy("doc_id")
    },
      s"""WITH $ToksArrCte
          SELECT doc_id, n_ws, len(toks) AS n_alpha,
                 floor((stop_ratio) * 1e4 + 0.5) / 1e4 AS stop_ratio,
                 floor((0.4 * least(n_ws / 100.0, 1.0)
                       + 0.3 * (len(toks)::DOUBLE / greatest(n_ws::DOUBLE, 1.0))
                       + 0.3 * (1.0 - stop_ratio)) * 1e4 + 0.5) / 1e4 AS score
          FROM (
            SELECT doc_id, n_ws, toks,
                   CASE WHEN len(toks) = 0 THEN 0.0
                        ELSE len(list_filter(toks, w -> w IN ('the','a','an','and','of','to','in','is','it','for')))::DOUBLE
                             / len(toks) END AS stop_ratio
            FROM toks_arr) u
          ORDER BY doc_id"""),

    // -- corpus-derived unigram log-prob score (LM-quality-filter core):
    //    mean ln p(token) per doc against the corpus's own unigram model
    QueryDef("q_quality_unigram_lp", (s, dir) => {
      TextAnalysis
        .unigramLogProbScore(Tokenize.tokens(t(s, dir, "documents"), "text", Seq("doc_id")))
        .select(col("doc_id"), col("n_tok"), round(col("mean_lp"), 4).as("mean_lp"))
        .orderBy("doc_id")
    },
      s"""WITH $TokCte,
          vocab AS (SELECT word, count(*) AS wf FROM tok GROUP BY word),
          tot AS (SELECT count(*) AS tot FROM tok)
          SELECT doc_id, count(*) AS n_tok,
                 floor((avg(ln(wf::DOUBLE / tot::DOUBLE))) * 1e4 + 0.5) / 1e4 AS mean_lp
          FROM tok JOIN vocab USING (word) CROSS JOIN tot
          GROUP BY doc_id ORDER BY doc_id"""),

    // -- heuristic language ID (marker-word argmax)
    QueryDef("q_lang_id", (s, dir) =>
      TextAnalysis.langId(t(s, dir, "documents")).orderBy("doc_id"),
      s"""WITH $TokCte,
          hits AS (
            SELECT doc_id, ml, count(*) AS hits FROM (
              SELECT doc_id,
                     CASE WHEN word IN ('the','and','is','of') THEN 'en'
                          WHEN word IN ('le','et','dans','les') THEN 'fr'
                          WHEN word IN ('der','und','nicht','das') THEN 'de'
                          WHEN word IN ('el','y','que','los') THEN 'es' END AS ml
              FROM tok) m
            WHERE ml IS NOT NULL GROUP BY doc_id, ml),
          best AS (
            SELECT doc_id, ml FROM (
              SELECT doc_id, ml, row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, ml) AS rn
              FROM hits) b
            WHERE rn = 1)
          SELECT d.doc_id, coalesce(best.ml, 'unknown') AS pred_lang
          FROM documents d LEFT JOIN best ON d.doc_id = best.doc_id
          ORDER BY d.doc_id"""),

    // -- Flesch–Kincaid grade from deterministic structural counts
    //    (sentences / cleaned tokens / vowel-group syllables): the classic
    //    readability feature, integer counts until two final divisions —
    //    map-side, no shuffle
    QueryDef("q_readability", (s, dir) =>
      TextAnalysis.readability(t(s, dir, "documents")).orderBy("doc_id"),
      // same structural counts: [.!?]+ sentence runs, cleaned tokens,
      // [aeiouy]+ vowel-group syllables; grade from integer counts
      """WITH t AS (
           SELECT doc_id,
                  greatest(1, len(list_filter(regexp_split_to_array(text, '[.!?]+'),
                                              s -> len(trim(s)) > 0)))::BIGINT AS n_sentences,
                  list_filter(
                    list_transform(regexp_split_to_array(text, '\s+'),
                                   x -> regexp_replace(lower(x), '[^a-z]', '', 'g')),
                    w -> w <> '') AS toks
           FROM documents),
         c AS (SELECT doc_id, n_sentences,
                      len(toks)::BIGINT AS n_words,
                      coalesce(list_sum(list_transform(toks,
                        w -> len(regexp_extract_all(w, '[aeiouy]+')))), 0)::BIGINT AS n_syllables
               FROM t)
         SELECT doc_id, n_sentences, n_words, n_syllables,
                floor((0.39 * (greatest(1, n_words)::DOUBLE / n_sentences)
                       + 11.8 * (n_syllables::DOUBLE / greatest(1, n_words))
                       - 15.59) * 1e4 + 0.5) / 1e4 AS fk_r
         FROM c ORDER BY doc_id"""),

    // -- code-switching detector: langId per text HALF; disagreeing
    //    halves flag the mixed-language docs the single doc-level label
    //    hides (they poison language-filtered training splits)
    QueryDef("q_code_switch", (s, dir) =>
      TextAnalysis.codeSwitch(t(s, dir, "documents")).orderBy("doc_id"),
      // two independent langId chains over the character halves; unknown is
      // a first-class label in the disagreement flag
      s"""WITH ${langIdHalfCte("h", "substr(text, 1, len(text) // 2)")},
          ${langIdHalfCte("t", "substr(text, (len(text) // 2) + 1)")}
          SELECT d.doc_id,
                 coalesce(hb.ml, 'unknown') AS lang_head,
                 coalesce(tb.ml, 'unknown') AS lang_tail,
                 (coalesce(hb.ml, 'unknown') <> coalesce(tb.ml, 'unknown'))::INT AS mixed
          FROM documents d
          LEFT JOIN hbest hb ON d.doc_id = hb.doc_id
          LEFT JOIN tbest tb ON d.doc_id = tb.doc_id
          ORDER BY d.doc_id"""),

    // -- language-ID eval: confusion matrix of the marker heuristic
    //    against the labeled lang column + per-truth fractions — the
    //    accuracy audit run before trusting the classifier downstream
    QueryDef("q_langid_eval", (s, dir) => {
      val docs = t(s, dir, "documents")
      val m = docs.select(col("doc_id"), col("lang"))
        .join(TextAnalysis.langId(docs), Seq("doc_id"))
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))
      val tot = m.groupBy(col("lang")).agg(sum(col("n")).as("__t"))
      m.join(broadcast(tot), Seq("lang"))
        .withColumn("frac_r",
          graft.functions.Portable.pround(col("n").cast("double") / col("__t"), 4))
        .select(col("lang"), col("pred_lang"), col("n"), col("frac_r"))
        .orderBy("lang", "pred_lang")
    },
      s"""WITH $TokCte,
          hits AS (
            SELECT doc_id, ml, count(*) AS hits FROM (
              SELECT doc_id,
                     CASE WHEN word IN ('the','and','is','of') THEN 'en'
                          WHEN word IN ('le','et','dans','les') THEN 'fr'
                          WHEN word IN ('der','und','nicht','das') THEN 'de'
                          WHEN word IN ('el','y','que','los') THEN 'es' END AS ml
              FROM tok) m
            WHERE ml IS NOT NULL GROUP BY doc_id, ml),
          best AS (
            SELECT doc_id, ml FROM (
              SELECT doc_id, ml, row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, ml) AS rn
              FROM hits) b
            WHERE rn = 1),
          pred AS (
            SELECT d.doc_id, d.lang, coalesce(best.ml, 'unknown') AS pred_lang
            FROM documents d LEFT JOIN best ON d.doc_id = best.doc_id),
          m AS (SELECT lang, pred_lang, count(*) AS n FROM pred GROUP BY 1, 2),
          t AS (SELECT lang, sum(n) AS tt FROM m GROUP BY 1)
          SELECT m.lang, pred_lang, n,
                 floor((n::DOUBLE / tt) * 1e4 + 0.5) / 1e4 AS frac_r
          FROM m JOIN t ON t.lang = m.lang
          ORDER BY m.lang, pred_lang"""),

    // -- term drift v1 -> v2 (same synthesized v2 as q_corpus_diff): top
    //    risers by smoothed log relative-frequency delta — corpusDiff says
    //    WHICH docs changed, this says WHAT the change is about
    QueryDef("q_term_drift", (s, dir) => {
      val v1 = t(s, dir, "documents")
      val v2 = v1
        .where(col("doc_id") % 17 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2 edit")))
            .otherwise(col("text")))
        .unionByName(
          v1.where(col("doc_id") % 11 === 0)
            .withColumn("doc_id", col("doc_id") + 1000000))
      TextAnalysis.termDrift(v1, v2, k = 20)
    },
      """WITH v2d AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 5 = 0 THEN text || ' v2 edit' ELSE text END AS text
           FROM documents WHERE doc_id % 17 <> 0
           UNION ALL
           SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 11 = 0),
         t1 AS (SELECT w AS word FROM (
                  SELECT regexp_replace(lower(unnest(regexp_split_to_array(text, '\s+'))), '[^a-z]', '', 'g') AS w
                  FROM documents) u WHERE w <> ''),
         t2 AS (SELECT w AS word FROM (
                  SELECT regexp_replace(lower(unnest(regexp_split_to_array(text, '\s+'))), '[^a-z]', '', 'g') AS w
                  FROM v2d) u WHERE w <> ''),
         cc1 AS (SELECT word, count(*) AS c1 FROM t1 GROUP BY 1),
         cc2 AS (SELECT word, count(*) AS c2 FROM t2 GROUP BY 1),
         j AS (SELECT coalesce(cc1.word, cc2.word) AS word,
                      coalesce(c1, 0) AS c1, coalesce(c2, 0) AS c2
               FROM cc1 FULL OUTER JOIN cc2 ON cc1.word = cc2.word),
         s AS (SELECT sum(c1)::BIGINT AS n1, sum(c2)::BIGINT AS n2, count(*) AS v FROM j)
         SELECT word, c1, c2,
                floor((ln((c2 + 1)::DOUBLE / (n2 + v)) - ln((c1 + 1)::DOUBLE / (n1 + v))) * 1e4 + 0.5) / 1e4 AS delta_r
         FROM j CROSS JOIN s
         ORDER BY delta_r DESC, word LIMIT 20"""),

    // -- next-word suggestion: top-3 continuations per context word from
    //    the corpus bigram counts — the bigram LM's serving view; rank
    //    window bounded by the per-context vocabulary
    QueryDef("q_next_word", (s, dir) => {
      // the <2-token guard lives INSIDE the explode input (empty array →
      // zero rows) instead of a where(size(toks)>=2): the pushed-down
      // where re-derived the whole tokenize tree in a scan filter
      // (sequence(1, size-1) is DESCENDING for size<2, so the guard is
      // semantically required — this form keeps it while the
      // PruneInferredGenerateFilter rule strips the redundant inferred
      // pre-Generate filter)
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), Tokenize.tokenArray(col("text")).as("toks"))
      val big = toks.select(explode(expr(
        """CASE WHEN size(toks) < 2 THEN array()
           ELSE transform(sequence(1, size(toks) - 1), i -> struct(toks[i-1] AS w1, toks[i] AS w2)) END""")).as("b"))
        .select(col("b.w1"), col("b.w2"))
      val w = Window.partitionBy(col("w1")).orderBy(desc("c"), asc("w2"))
      big.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("w1"), col("w2"), col("c"), col("rn"))
        .orderBy("w1", "rn")
    },
      """WITH t0 AS (
           SELECT doc_id,
                  list_filter(
                    list_transform(regexp_split_to_array(text, '\s+'),
                                   x -> regexp_replace(lower(x), '[^a-z]', '', 'g')),
                    w -> w <> '') AS toks
           FROM documents),
         big AS (
           SELECT toks[i] AS w1, toks[i + 1] AS w2
           FROM (SELECT toks, unnest(range(1, len(toks))) AS i
                 FROM t0 WHERE len(toks) >= 2) u),
         c AS (SELECT w1, w2, count(*) AS c FROM big GROUP BY 1, 2),
         f AS (SELECT w1, w2, c,
                      row_number() OVER (PARTITION BY w1 ORDER BY c DESC, w2) AS rn
               FROM c QUALIFY rn <= 3)
         SELECT w1, w2, c, rn FROM f ORDER BY w1, rn"""),

    // -- vocabulary coverage curve: token-mass OOV rate under the top-n
    //    vocabulary for n in {5, 10, 20} — the tokenizer-design table
    //    (how small a vocab still covers the corpus). The query only ever
    //    needs the top max(n) vocabulary, so it's a TakeOrderedAndProject
    //    over the word counts (distributed partial top-k, the
    //    q_search_prefix discipline) — NEVER a row_number window over the
    //    whole vocabulary, whose Exchange SinglePartition sort was the
    //    r12-flagged one-task scale-killer. The 20 winners collapse to a
    //    single sorted array (a ≤20-row aggregate) and each coverage row
    //    is a prefix-slice sum of that array beside the corpus-wide total.
    QueryDef("q_oov_rate", (s, dir) => {
      val vocab = Tokenize.tokens(t(s, dir, "documents"), "text", Seq("doc_id"))
        .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      val total = vocab.agg(sum(col("freq")).as("total_tokens"))
      val tops = vocab
        .orderBy(desc("freq"), asc("word"))
        .limit(20)
        .agg(collect_list(struct(col("freq"), col("word"))).as("tops"))
        .select(expr(
          """array_sort(tops, (a, b) ->
             CASE WHEN a.freq > b.freq THEN -1 WHEN a.freq < b.freq THEN 1
                  WHEN a.word < b.word THEN -1 WHEN a.word > b.word THEN 1
                  ELSE 0 END)""").as("tops"))
      total.crossJoin(tops)
        .select(explode(array(lit(5), lit(10), lit(20))).as("vocab_size"),
          col("tops"), col("total_tokens"))
        .select(col("vocab_size"),
          expr("aggregate(slice(tops, 1, vocab_size), CAST(0 AS BIGINT), (acc, x) -> acc + x.freq)")
            .as("covered_tokens"),
          col("total_tokens"))
        .withColumn("oov_rate_r",
          graft.functions.Portable.pround(
            lit(1.0) - col("covered_tokens").cast("double") / col("total_tokens"), 4))
        .orderBy("vocab_size")
    },
      s"""WITH $TokCte,
          v AS (SELECT word, count(*) AS freq FROM tok GROUP BY 1),
          r AS (SELECT freq, row_number() OVER (ORDER BY freq DESC, word) AS rk FROM v),
          x AS (SELECT freq, rk, unnest([5, 10, 20]) AS vocab_size FROM r)
          SELECT vocab_size,
                 sum(CASE WHEN rk <= vocab_size THEN freq ELSE 0 END)::BIGINT AS covered_tokens,
                 sum(freq)::BIGINT AS total_tokens,
                 floor((1.0 - sum(CASE WHEN rk <= vocab_size THEN freq ELSE 0 END)::DOUBLE
                        / sum(freq)) * 1e4 + 0.5) / 1e4 AS oov_rate_r
          FROM x GROUP BY 1 ORDER BY vocab_size"""),

    // -- winnowing-style document fingerprint (min md5 over 5-gram shingles)
    QueryDef("q_fingerprint", (s, dir) => {
      TextAnalysis
        .withFingerprint(t(s, dir, "documents"), "text", 5, "fp")
        .select(col("doc_id"), col("fp"))
        .orderBy("doc_id")
    },
      s"""WITH $ToksArrCte
          SELECT doc_id, list_min(list_transform(sh, s -> md5(s))) AS fp FROM (
            SELECT doc_id,
                   CASE WHEN len(toks) = 0 THEN []::VARCHAR[]
                        WHEN len(toks) >= 5
                        THEN list_distinct(list_transform(range(1, len(toks) - 3),
                                           i -> array_to_string(list_slice(toks, i, i + 4), ' ')))
                        ELSE [array_to_string(toks, ' ')] END AS sh
            FROM toks_arr) u
          ORDER BY doc_id"""),

    // ====================== training-data pipeline: near-dup + similarity

    // -- MinHash-LSH candidate pairs (3-gram shingles, 16 hashes, 8 bands
    //    of 2, hot buckets capped at 4096 docs)
    QueryDef("q_dedup_minhash", (s, dir) => {
      Dedup
        .minhashCandidates(t(s, dir, "documents"),
          shingleK = 3, numHashes = 16, bands = 8, maxBucket = 4096)
        .orderBy("doc1", "doc2")
    },
      minhashSql(shingleK = 3, numHashes = 16, bands = 8, maxBucket = 4096)),

    // -- paragraph-granularity exact dedup with document fold-back (the
    //    C4/Dolma stage): first occurrence corpus-wide keeps, later
    //    occurrences are stripped; per doc the duplicated fraction and
    //    the paragraph-stripped text. One hash-keyed shuffle + one doc agg.
    QueryDef("q_dedup_paragraph", (s, dir) =>
      Dedup.paragraphDedup(t(s, dir, "documents"), parTokens = 20)
        .orderBy("doc_id"),
      // fixed 20-token spans of RAW whitespace words; first occurrence by
      // (doc_id, par_idx) keeps, the window min rides the par_text partition
      // (Spark partitions the sha2 of it — equivalent grouping)
      s"""WITH ${paragraphCtes(20)},
          f AS (SELECT doc_id, par_idx, par_text,
                       (doc_id * 1000000 + par_idx)
                         <> min(doc_id * 1000000 + par_idx) OVER (PARTITION BY par_text) AS dup
                FROM pars),
          g AS (SELECT doc_id, count(*) AS n_pars,
                       sum(CASE WHEN dup THEN 1 ELSE 0 END)::BIGINT AS dup_pars,
                       floor((sum(CASE WHEN dup THEN 1 ELSE 0 END)::DOUBLE
                              / count(*)::DOUBLE) * 1e4 + 0.5) / 1e4 AS frac_dup_r,
                       string_agg(CASE WHEN NOT dup THEN par_text END, ' ' ORDER BY par_idx) AS kept_text
                FROM f GROUP BY doc_id)
          SELECT d.doc_id, coalesce(n_pars, 0) AS n_pars,
                 coalesce(dup_pars, 0) AS dup_pars,
                 coalesce(frac_dup_r, 0.0) AS frac_dup_r,
                 coalesce(kept_text, '') AS kept_text
          FROM documents d LEFT JOIN g USING (doc_id) ORDER BY d.doc_id"""),

    // -- paragraph-granularity NEAR-dup: the doc-level MinHash machinery
    //    run verbatim over paragraph pseudo-docs, folded to doc pairs
    //    with the count of near-dup paragraph pairs linking them
    QueryDef("q_dedup_paragraph_mh", (s, dir) =>
      Dedup.paragraphMinhashPairs(t(s, dir, "documents"), parTokens = 20,
        shingleK = 3, numHashes = 16, bands = 8, maxBucket = 4096)
        .orderBy("doca", "docb"),
      // same spans as pseudo-docs (pid = doc_id*1e6 + par_idx) through the
      // identical minhash banding, folded to cross-doc pair counts; the
      // decode is FLOOR division (subtract the positive modulus first —
      // DuckDB's `//`, like Spark's `div`, truncates toward zero and would
      // mis-fold negative doc ids identically to the pre-fix Spark plan)
      s"""WITH ${paragraphCtes(20)},
          parsrc AS (SELECT doc_id * 1000000 + par_idx AS doc_id, par_text AS text FROM pars),
          ${minhashPairsCtes(3, 16, 8, 4096, src = "parsrc")},
          dec AS (SELECT (doc1 - ((doc1 % 1000000 + 1000000) % 1000000)) // 1000000 AS doca,
                         (doc2 - ((doc2 % 1000000 + 1000000) % 1000000)) // 1000000 AS docb
                  FROM pairs)
          SELECT doca, docb, count(*)::BIGINT AS n_par_pairs
          FROM dec WHERE doca <> docb
          GROUP BY 1, 2 ORDER BY doca, docb"""),

    // -- LSH banding planner: price every (bands, rows) factorization of
    //    numHashes against the target threshold (S-curve FN/FP integrals,
    //    fixed-order midpoint grid) and flag the argmin — the advisory
    //    dial-setter beside q_minhash_est and q_bloom_plan
    QueryDef("q_lsh_plan", (s, dir) => {
      Dedup.lshPlan(s, numHashes = 16, threshold = 0.5).orderBy("bands")
    },
      lshPlanSql(16, 0.5, 1000)),

    // -- edit-distance verify of the banded candidates (the order-aware
    //    metric Jaccard isn't: a paragraph-shuffled doc scores Jaccard 1
    //    but pays every move here); O(len*maxDist) banded DP runs ONLY on
    //    the LSH candidate set over normalized [a-z ] text
    QueryDef("q_dedup_edit", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup
        .editVerifyPairs(docs,
          Dedup.minhashCandidates(docs,
            shingleK = 3, numHashes = 16, bands = 8, maxBucket = 4096),
          maxDist = 400)
        .orderBy("doc1", "doc2")
    },
      // edit verify over the same banded candidates: full levenshtein with a
      // CASE threshold mirrors Spark's banded early-exit (-1 above maxDist)
      s"""WITH ${minhashPairsCtes(shingleK = 3, numHashes = 16, bands = 8, maxBucket = 4096)},
          cd AS (SELECT DISTINCT doc_id FROM (
                   SELECT doc1 AS doc_id FROM pairs
                   UNION ALL SELECT doc2 FROM pairs) u),
          nt AS (SELECT d.doc_id,
                        array_to_string(list_filter(
                          list_transform(regexp_split_to_array(d.text, '\\s+'),
                                         x -> regexp_replace(lower(x), '[^a-z]', '', 'g')),
                          w -> w <> ''), ' ') AS t
                 FROM documents d JOIN cd USING (doc_id)),
          lev AS (SELECT p.doc1, p.doc2,
                         CASE WHEN levenshtein(a.t, b.t) > 400 THEN -1
                              ELSE levenshtein(a.t, b.t) END AS dist,
                         greatest(length(a.t), length(b.t)) AS ml
                  FROM pairs p
                  JOIN nt a ON a.doc_id = p.doc1
                  JOIN nt b ON b.doc_id = p.doc2)
          SELECT doc1, doc2, dist,
                 CASE WHEN ml = 0 THEN 1.0
                      ELSE floor((1.0 - dist::DOUBLE / ml::DOUBLE) * 1e6 + 0.5) / 1e6
                 END AS esim_r
          FROM lev WHERE dist >= 0 ORDER BY doc1, doc2"""),

    // -- WEIGHTED (idf) near-dup candidates via md5-deterministic ICWS:
    //    boilerplate-dominated overlap stops banding, distinctive-content
    //    overlap keeps its collision mass — every Gamma/Uniform draw and
    //    the log-space argmin replay exactly in the oracle
    QueryDef("q_dedup_wminhash", (s, dir) => {
      Dedup
        .weightedMinhashCandidates(t(s, dir, "documents"),
          shingleK = 3, numHashes = 16, bands = 8, maxBucket = 4096)
        .orderBy("doc1", "doc2")
    },
      // ICWS weighted-minhash mirror: every md5 Gamma/Uniform draw, the
      // log-space a-value and the struct-min argmin replayed draw-for-draw
      wminhashSql(shingleK = 3, numHashes = 16, bands = 8, maxBucket = 4096)),

    // -- the same candidates served from the PREBUILT signature index
    //    (build-once/query-many, the ivfpqIndex pattern): one materialized
    //    corpus pass produces (sh, sig, band_keys) reused by every
    //    consumer — the production shape at 100 TB, where signatures are
    //    computed once per corpus snapshot. Oracle == q_dedup_minhash's,
    //    pinning indexed == inline.
    QueryDef("q_minhash_indexed", (s, dir) => {
      Dedup
        .candidatesFromIndex(
          Dedup.minhashIndex(t(s, dir, "documents"),
            shingleK = 3, numHashes = 16, bands = 8),
          maxBucket = 4096)
        .orderBy("doc1", "doc2")
    },
      // identical SQL by construction: the indexed path must produce exactly
      // the inline path's candidates (build-once/query-many equivalence pin)
      minhashSql(shingleK = 3, numHashes = 16, bands = 8, maxBucket = 4096)),

    // -- incremental-ingest dedup: new batch (doc_id < 50) checked against
    //    the existing corpus — in-bucket expansion strictly new x corpus,
    //    capped on the pair PRODUCT; candidates exactly Jaccard-verified
    QueryDef("q_cross_dedup", (s, dir) => {
      val d = t(s, dir, "documents")
      Dedup
        .crossCorpusNearDups(
          d.where(col("doc_id") < 50), d.where(col("doc_id") >= 50),
          threshold = 0.5, shingleK = 3, numHashes = 16, bands = 8, maxBucket = 4096)
        .orderBy("new_id", "corpus_id")
    },
      crossDedupSql(shingleK = 3, numHashes = 16, bands = 8,
      maxBucket = 4096, threshold = 0.5, splitId = 50L)),

    // -- EXACT substring-overlap dedup at the Lee-et-al. 50-token
    //    standard: every maximal cross-document token span ≥ 50 shared
    //    token-for-token, via df-capped positional anchors + a
    //    gaps-and-islands reconstruction — the exact-span granularity CDC
    //    chunking (q_dedup_spans) approximates
    QueryDef("q_dedup_substr", (s, dir) => {
      Dedup
        .substringOverlapPairs(t(s, dir, "documents"),
          minTokens = 50, anchorK = 8, dfCap = 100)
        .orderBy("doc1", "doc2", "start1", "start2")
    },
      substrOverlapSql(minTokens = 50, anchorK = 8, dfCap = 100)),

    // -- the substring-dedup ACTION (Lee et al. delete all but one
    //    occurrence): doc2-side spans stripped — lowest-id holder keeps —
    //    intervals island-merged per doc BEFORE position expansion, text
    //    rebuilt over the normalized token stream the spans live on
    QueryDef("q_dedup_substr_strip", (s, dir) => {
      Dedup
        .substringStrip(t(s, dir, "documents"),
          minTokens = 50, anchorK = 8, dfCap = 100)
        .orderBy("doc_id")
    },
      substrStripSql(minTokens = 50, anchorK = 8, dfCap = 100)),

    // -- WEIGHTED candidates served from the PREBUILT ICWS index (r16
    //    judge task 2): the draw table + per-doc band keys are built once
    //    per corpus snapshot and banding serves from the materialized
    //    relation via the same candidatesFromIndex contract as the
    //    unweighted index. Oracle == q_dedup_wminhash's, pinning
    //    indexed == inline.
    QueryDef("q_wminhash_indexed", (s, dir) => {
      Dedup
        .candidatesFromIndex(
          Dedup.wminhashIndex(t(s, dir, "documents"),
            shingleK = 3, numHashes = 16, bands = 8).index,
          maxBucket = 4096)
        .orderBy("doc1", "doc2")
    },
      // indexed == inline: the prebuilt weighted index must reproduce the
      // inline weighted candidates exactly
      wminhashSql(shingleK = 3, numHashes = 16, bands = 8, maxBucket = 4096)),

    // -- incremental WEIGHTED dedup: new batch (doc_id < 50) banded with
    //    the corpus snapshot's FROZEN draw table and checked against the
    //    prebuilt index band keys (product-capped buckets), candidates
    //    exactly verified by snapshot-weighted Jaccard on integer
    //    micro-weight sums — the weighted twin of q_cross_dedup, with the
    //    corpus never re-tokenized
    QueryDef("q_wminhash_cross", (s, dir) => {
      val d = t(s, dir, "documents")
      Dedup
        .wminhashCrossDups(
          Dedup.wminhashIndex(d.where(col("doc_id") >= 50),
            shingleK = 3, numHashes = 16, bands = 8),
          d.where(col("doc_id") < 50),
          threshold = 0.5, shingleK = 3, numHashes = 16, bands = 8, maxBucket = 4096)
        .orderBy("new_id", "corpus_id")
    },
      wminhashCrossSql(shingleK = 3, numHashes = 16, bands = 8,
      maxBucket = 4096, threshold = 0.5, splitId = 50L)),

    // -- duplicate clusters: connected components over the minhash
    //    candidate pairs (iterative min-label propagation; group_id is the
    //    cluster's keeper)
    QueryDef("q_dedup_groups", (s, dir) => {
      Dedup
        .duplicateGroups(Dedup.minhashCandidates(t(s, dir, "documents"),
          shingleK = 3, numHashes = 16, bands = 8, maxBucket = 4096))
        .orderBy("doc_id")
    },
      // transitive closure over the SAME candidate pairs: a recursive CTE
      // propagates every reachable label; min(label) per vertex is the
      // component minimum — exactly what the iterative hash-to-min loop
      // converges to
      s"""WITH RECURSIVE ${minhashPairsCtes(3, 16, 8, 4096)},
          edges AS (SELECT doc1 AS src, doc2 AS dst FROM pairs
                    UNION ALL SELECT doc2, doc1 FROM pairs),
          reach(v, lbl) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.v = e.dst)
          SELECT v AS doc_id, min(lbl) AS group_id
          FROM reach GROUP BY v ORDER BY doc_id""",
      Some(Iteration(
        "early-exit: hash-to-min cc loop checks an observe() " +
          "changed-count metric per round and stops at 0 (Dedup.duplicateGroups)",
        (s, dir) =>
          Dedup.ccRoundPlan(pairs(s, dir))))),

    // -- minhash estimator eval: signature-agreement estimate vs EXACT
    //    shingle Jaccard on the candidate pairs, with absolute error —
    //    the measurement pricing the numHashes dial
    QueryDef("q_minhash_est", (s, dir) => {
      Dedup
        .minhashEstimateVsExact(t(s, dir, "documents"))
        .orderBy("doc1", "doc2")
    },
      s"""WITH ${minhashPairsCtes(3, 16, 8, 4096)},
          est AS (
            SELECT p.doc1, p.doc2,
                   (${(0 until 16).map(i => s"CASE WHEN a.sig$i = b.sig$i THEN 1 ELSE 0 END").mkString(" + ")}) AS agree
            FROM pairs p
            JOIN sigs a ON a.doc_id = p.doc1
            JOIN sigs b ON b.doc_id = p.doc2),
          ex AS (
            SELECT p.doc1, p.doc2,
                   len(list_intersect(s1.shingles, s2.shingles))::DOUBLE /
                   (len(s1.shingles) + len(s2.shingles)
                    - len(list_intersect(s1.shingles, s2.shingles))) AS jac
            FROM pairs p
            JOIN sh s1 ON s1.doc_id = p.doc1
            JOIN sh s2 ON s2.doc_id = p.doc2)
          SELECT e.doc1, e.doc2, agree,
                 floor((agree / 16.0) * 1e4 + 0.5) / 1e4 AS est_r,
                 floor(jac * 1e4 + 0.5) / 1e4 AS jaccard_r,
                 floor(abs(agree / 16.0 - jac) * 1e4 + 0.5) / 1e4 AS abs_err_r
          FROM est e JOIN ex ON ex.doc1 = e.doc1 AND ex.doc2 = e.doc2
          ORDER BY e.doc1, e.doc2"""),

    // -- dedup impact report: ONE row — docs, clustered docs, clusters,
    //    keep-one removals, shrink fraction (the go/no-go number a
    //    curation run reads before the rewrite)
    QueryDef("q_dedup_shrink", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.shrinkReport(docs,
        Dedup.minhashCandidates(docs,
          shingleK = 3, numHashes = 16, bands = 8, maxBucket = 4096))
    },
      s"""WITH RECURSIVE ${minhashPairsCtes(3, 16, 8, 4096)},
          edges AS (SELECT doc1 AS src, doc2 AS dst FROM pairs
                    UNION ALL SELECT doc2, doc1 FROM pairs),
          reach(v, lbl) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.v = e.dst),
          lab AS (SELECT v, min(lbl) AS group_id FROM reach GROUP BY v),
          agg AS (SELECT count(*) AS n_in_clusters,
                         count(DISTINCT group_id) AS n_clusters
                  FROM lab),
          n AS (SELECT count(*) AS n_docs FROM documents)
          SELECT n_docs, n_in_clusters, n_clusters,
                 (n_in_clusters - n_clusters) AS docs_removed,
                 floor(((n_in_clusters - n_clusters)::DOUBLE / n_docs) * 1e4 + 0.5) / 1e4 AS shrink_r
          FROM agg CROSS JOIN n""",
      Some(Iteration(
        "early-exit: same observe()-fixpoint cc loop as q_dedup_groups",
        (s, dir) =>
          Dedup.shrinkFromLabels(docs(s, dir), Dedup.ccRoundPlan(pairs(s, dir)))))),

    // -- quality-aware dedup: keep the BEST cluster member (max n_chars,
    //    min id tie) — the curation verdict, vs the min-id canonical label
    QueryDef("q_dedup_keep_best", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup
        .keepBest(
          Dedup.duplicateGroups(Dedup.minhashCandidates(docs,
            shingleK = 3, numHashes = 16, bands = 8, maxBucket = 4096)),
          docs.select(col("doc_id"), col("n_chars").as("q")))
        .orderBy("group_id")
    },
      s"""WITH RECURSIVE ${minhashPairsCtes(3, 16, 8, 4096)},
          edges AS (SELECT doc1 AS src, doc2 AS dst FROM pairs
                    UNION ALL SELECT doc2, doc1 FROM pairs),
          reach(v, lbl) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.v = e.dst),
          grp AS (SELECT v AS doc_id, min(lbl) AS group_id FROM reach GROUP BY v),
          j AS (SELECT g.group_id, g.doc_id, d.n_chars
                FROM grp g JOIN documents d USING (doc_id)),
          best AS (SELECT group_id, doc_id AS keep_id, n_chars AS best_q FROM j
                   QUALIFY row_number() OVER (PARTITION BY group_id
                                              ORDER BY n_chars DESC, doc_id ASC) = 1),
          cnt AS (SELECT group_id, count(*) AS n_members FROM j GROUP BY 1)
          SELECT b.group_id, b.keep_id, b.best_q, c.n_members
          FROM best b JOIN cnt c USING (group_id) ORDER BY b.group_id""",
      Some(Iteration(
        "early-exit: same observe()-fixpoint cc loop as q_dedup_groups",
        (s, dir) =>
          Dedup.keepBest(Dedup.ccRoundPlan(pairs(s, dir)),
            docs(s, dir).select(col("doc_id"), col("n_chars").as("q")))))),

    // -- Gopher-rules composite quality filter: word-count bounds, mean
    //    word length, alpha-word fraction, symbol ratio, stopword
    //    presence — all from ONE map-side pass, keep = conjunction
    QueryDef("q_gopher_rules", (s, dir) => {
      TextAnalysis.gopherRules(t(s, dir, "documents")).orderBy("doc_id")
    },
      """WITH t AS (SELECT doc_id, text,
                      regexp_split_to_array(text, '\s+') AS ws,
                      list_filter(
                        list_transform(regexp_split_to_array(text, '\s+'),
                                       x -> regexp_replace(lower(x), '[^a-z]', '', 'g')),
                        w -> w <> '') AS toks
                    FROM documents),
         m AS (SELECT doc_id,
                 len(ws)::BIGINT AS n_ws,
                 CASE WHEN len(toks) = 0 THEN 0.0
                      ELSE floor((list_sum(list_transform(toks, x -> len(x)))::DOUBLE
                                  / len(toks)) * 1e4 + 0.5) / 1e4 END AS mean_wlen_r,
                 floor((len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
                        / len(ws)) * 1e4 + 0.5) / 1e4 AS alpha_frac_r,
                 floor((((len(text) - len(replace(text, '#', '')))::DOUBLE
                         + (len(text) - len(replace(text, '...', '')))::DOUBLE / 3.0)
                        / len(ws)) * 1e4 + 0.5) / 1e4 AS sym_ratio_r,
                 len(list_intersect(toks,
                     ['the','a','an','and','of','to','in','is','it','for']))::BIGINT AS n_stop
               FROM t)
         SELECT doc_id, n_ws, mean_wlen_r, alpha_frac_r, sym_ratio_r, n_stop,
                (n_ws >= 50 AND n_ws <= 100000)::INTEGER AS r_words,
                (mean_wlen_r >= 3.0 AND mean_wlen_r <= 10.0)::INTEGER AS r_wlen,
                (alpha_frac_r >= 0.8)::INTEGER AS r_alpha,
                (sym_ratio_r <= 0.1)::INTEGER AS r_symbol,
                (n_stop >= 2)::INTEGER AS r_stop,
                (n_ws >= 50 AND n_ws <= 100000 AND mean_wlen_r >= 3.0
                 AND mean_wlen_r <= 10.0 AND alpha_frac_r >= 0.8
                 AND sym_ratio_r <= 0.1 AND n_stop >= 2)::INTEGER AS keep
         FROM m ORDER BY doc_id"""),

    // -- deterministic word-dropout augmentation (p = 0.1): per-(doc,
    //    position) md5 draw — rerun-stable, oracle-replayable
    QueryDef("q_word_dropout", (s, dir) => {
      TextAnalysis
        .wordDropout(t(s, dir, "documents"), p = 0.1)
        .withColumn("aug_md5", md5(col("aug_text")))
        .select(col("doc_id"), col("aug_md5"), col("n_total"), col("n_kept"))
        .orderBy("doc_id")
    },
      """WITH w AS (SELECT doc_id, j - 1 AS pos, ws[j] AS w
                    FROM (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS j
                          FROM (SELECT doc_id, regexp_split_to_array(text, '\s+') AS ws
                                FROM documents) t0) t1),
         k AS (SELECT doc_id, pos, w,
                      ('0x' || substr(md5('wd:' || doc_id::VARCHAR || ':' || pos::VARCHAR),
                        1, 13))::BIGINT >= 450359962737049 AS keep
               FROM w)
         SELECT doc_id,
                md5(coalesce(string_agg(CASE WHEN keep THEN w END, ' ' ORDER BY pos), ''))
                  AS aug_md5,
                count(*) AS n_total,
                count(CASE WHEN keep THEN 1 END) AS n_kept
         FROM k GROUP BY doc_id ORDER BY doc_id"""),

    // -- tokenizer fertility per language: BPE pieces per word from the
    //    document encoder — the standard tokenizer-eval metric
    QueryDef("q_bpe_fertility", (s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = TextAnalysis
        .bpeMerges(Tokenize.tokens(docs, "text", Seq("doc_id")), 3)
        .orderBy("iter").collect().map(_.getString(1)).toSeq
      TextAnalysis.bpeEncodeDocs(docs, merges)
        .join(docs.select("doc_id", "lang"), Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(
          sum(col("n_words")).as("tot_words"),
          sum(col("n_pieces")).as("tot_pieces"))
        .select(col("lang"), col("tot_words"), col("tot_pieces"),
          graft.functions.Portable.pround(
            col("tot_pieces").cast("double") / col("tot_words").cast("double"), 4)
            .as("fertility_r"))
        .orderBy("lang")
    },
      bpeOracleSql(3, mode = "fertility"),
      Some(Iteration(
        "bounded-rounds: merge-table application (q_bpe_encode) feeding " +
          "one aggregate; rounds = merges.length by definition",
        (s, dir) => {
          val d = docs(s, dir)
          TextAnalysis.bpeEncodeDocs(d, litMerges)
            .join(d.select("doc_id", "lang"), Seq("doc_id"))
            .groupBy(col("lang"))
            .agg(sum(col("n_words")).as("tot_words"), sum(col("n_pieces")).as("tot_pieces"))
        }))),

    // -- unigram-LM (SentencePiece-style) tokenizer trainer, Kudo 2018:
    //    seed substrings → 2 hard-EM rounds (Viterbi E over DISTINCT
    //    words with integer micro-log-prob scores; count M with the
    //    single-char Laplace floor) → prune + renormalize. The other
    //    subword tokenizer next to the BPE family; every segmentation
    //    decision replays exactly in the oracle's unrolled DP.
    QueryDef("q_unigram_lm", (s, dir) => {
      TextAnalysis
        .unigramLm(Tokenize.tokens(t(s, dir, "documents"), "text", Seq("doc_id")))
        .orderBy("piece")
    },
      unigramSql("vocab")),

    // -- unigram-LM fertility per language on the same corpus — the
    //    row-for-row comparison against q_bpe_fertility (same metric,
    //    same schema, same corpus): the trained unigram vocab segments
    //    each distinct word once, the doc stream joins the piece counts
    QueryDef("q_unigram_fertility", (s, dir) => {
      TextAnalysis.unigramFertility(t(s, dir, "documents")).orderBy("lang")
    },
      unigramSql("fertility")),

    // -- interpolated Kneser–Ney bigram score (Chen & Goodman 1999; the
    //    smoothing KenLM-style corpus filters run) with the corpus-
    //    estimated Ney discount D = t1/(t1+2·t2): continuation-mass
    //    coherence that add-one bigram scoring (q_bigram_lm) can't see
    QueryDef("q_kn_lm", (s, dir) => {
      TextAnalysis
        .knBigramLogProbScore(t(s, dir, "documents"))
        .orderBy("doc_id")
    },
      // interpolated Kneser–Ney: every model count exact-integer, the one
      // derived constant D 6-dp-rounded before use, the per-bigram term the
      // IDENTICAL left-associated double expression as the Spark side
      s"""WITH $KnScoreCtes
         SELECT d.doc_id, coalesce(n_big, 0) AS n_big,
                floor((coalesce(mlp, 0.0)) * 1e4 + 0.5) / 1e4 AS mean_lp
         FROM documents d LEFT JOIN sc USING (doc_id) ORDER BY d.doc_id"""),

    // -- Gopher-style repetition metrics: duplicate 3-gram fraction flags
    //    boilerplate/looping text (map-side, no shuffle)
    QueryDef("q_quality_repetition", (s, dir) => {
      TextAnalysis
        .withRepetitionMetrics(t(s, dir, "documents"), "text", k = 3)
        .select(col("doc_id"), col("n_sh"), col("n_uniq"), col("dup_frac"))
        .orderBy("doc_id")
    },
      // raw (non-distinct) shingle enumeration mirrors rawShinglesFromToks;
      // dup_frac is integer-ratio arithmetic, portably rounded
      """WITH toks0 AS (
           SELECT doc_id,
                  list_filter(
                    list_transform(regexp_split_to_array(text, '\s+'),
                                   x -> regexp_replace(lower(x), '[^a-z]', '', 'g')),
                    w -> w <> '') AS toks
           FROM documents),
         rsh AS (
           SELECT doc_id,
                  CASE WHEN len(toks) = 0 THEN []::VARCHAR[]
                       WHEN len(toks) >= 3
                       THEN list_transform(range(1, len(toks) - 1),
                                           i -> array_to_string(list_slice(toks, i, i + 2), ' '))
                       ELSE [array_to_string(toks, ' ')] END AS sh
           FROM toks0)
         SELECT doc_id, len(sh)::BIGINT AS n_sh, len(list_distinct(sh))::BIGINT AS n_uniq,
                CASE WHEN len(sh) = 0 THEN 0.0
                     ELSE floor((1.0 - len(list_distinct(sh))::DOUBLE / len(sh)::DOUBLE) * 1e4 + 0.5) / 1e4
                END AS dup_frac
         FROM rsh ORDER BY doc_id"""),

    // -- benchmark decontamination: docs sharing any 5-gram with the
    //    benchmark set (docs 1-5 stand in), counted per doc
    QueryDef("q_decontaminate", (s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis
        .contaminationOverlap(
          docs.where(col("doc_id") > 5), docs.where(col("doc_id") <= 5), k = 5)
        .orderBy("doc_id")
    },
      s"""WITH ${shinglesCte(5)},
          bench AS (SELECT DISTINCT unnest(shingles) AS s FROM sh WHERE doc_id <= 5),
          dd AS (SELECT doc_id, unnest(shingles) AS s FROM sh WHERE doc_id > 5)
          SELECT doc_id, count(DISTINCT s) AS n_overlap
          FROM dd JOIN bench USING (s)
          GROUP BY doc_id ORDER BY doc_id"""),

    // -- the decontamination ACTION: any doc sharing a benchmark 5-gram
    //    dropped (strictest setting - the corpus has exactly one such
    //    doc), survivors keep their overlap count as the audit trail
    QueryDef("q_decontam_filter", (s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis
        .decontaminate(
          docs.where(col("doc_id") > 5), docs.where(col("doc_id") <= 5),
          k = 5, maxOverlap = 1)
        .orderBy("doc_id")
    },
      s"""WITH ${shinglesCte(5)},
          bench AS (SELECT DISTINCT unnest(shingles) AS s FROM sh WHERE doc_id <= 5),
          dd AS (SELECT doc_id, unnest(shingles) AS s FROM sh WHERE doc_id > 5),
          ov AS (SELECT doc_id, count(DISTINCT s) AS n_overlap
                 FROM dd JOIN bench USING (s) GROUP BY doc_id)
          SELECT d.doc_id, coalesce(ov.n_overlap, 0) AS n_overlap
          FROM documents d LEFT JOIN ov USING (doc_id)
          WHERE d.doc_id > 5 AND coalesce(ov.n_overlap, 0) < 1
          ORDER BY d.doc_id"""),

    // -- deterministic stratified sample: per-language keep fractions,
    //    md5-threshold based so every rerun (and the oracle) keeps the
    //    identical rows
    QueryDef("q_sample_stratified", (s, dir) => {
      Sampling
        .stratifiedSample(t(s, dir, "documents"), "lang", "doc_id",
          fractions = Map("en" -> 0.25, "zh" -> 0.8), defaultFraction = 0.5)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    },
      // same md5-threshold formula as Sampling.sampleHash/threshold
      s"""SELECT doc_id, lang FROM documents
          WHERE ('0x' || substr(md5('sample:' || doc_id::VARCHAR), 1, 8))::BIGINT <
                CASE WHEN lang = 'en' THEN ${Sampling.threshold(0.25)}
                     WHEN lang = 'zh' THEN ${Sampling.threshold(0.8)}
                     ELSE ${Sampling.threshold(0.5)} END
          ORDER BY doc_id"""),

    // -- deterministic resampling WITH REPLACEMENT (temperature/mixture
    //    weighting): en down-weighted 0.5, zh up-weighted 2.5, rest 1.0;
    //    fractional copies decided by the same md5 hash as sampling
    QueryDef("q_sample_resample", (s, dir) => {
      Sampling
        .resampleByWeight(t(s, dir, "documents"), "lang", "doc_id",
          weights = Map("en" -> 0.5, "zh" -> 2.5), defaultWeight = 1.0)
        .select(col("doc_id"), col("lang"), col("copy"))
        .orderBy("doc_id", "copy")
    },
      // same md5-threshold draw as the Spark side; range(0, n) is 0-based
      """SELECT doc_id, lang, unnest(range(0, n))::BIGINT AS copy FROM (
           SELECT doc_id, lang,
                  floor(w)::BIGINT +
                  CASE WHEN ('0x' || substr(md5('resample:' || doc_id::VARCHAR), 1, 8))::BIGINT
                            < (w - floor(w)) * 4294967296.0 THEN 1 ELSE 0 END AS n
           FROM (SELECT doc_id, lang,
                        CASE WHEN lang = 'en' THEN 0.5
                             WHEN lang = 'zh' THEN 2.5 ELSE 1.0 END AS w
                 FROM documents) t) u
         WHERE n > 0 ORDER BY doc_id, copy"""),

    // -- the full dedup pipeline in one query: LSH candidates → exact
    //    jaccard≥0.5 verify (candidate pairs only, never all-pairs) →
    //    connected components → per-doc keeper verdict
    QueryDef("q_dedup_end2end", (s, dir) => {
      val docs = t(s, dir, "documents")
      // the whole pipeline serves from ONE materialized signature-index
      // pass: candidates come from the index's band keys, and the exact-
      // Jaccard verify reads the index's ALREADY-COMPUTED shingle arrays
      // (semi-joined down to docs that appear in a candidate pair) — zero
      // re-tokenization anywhere. Candidates are checkpointed because
      // they feed the verify join AND the doc-set restriction.
      val idx = Dedup.minhashIndex(docs, shingleK = 3, numHashes = 16, bands = 8)
      val cand = Dedup.candidatesFromIndex(idx, maxBucket = 4096)
        .pin()
      val candDocs = cand.select(col("doc1").as("doc_id"))
        .unionAll(cand.select(col("doc2").as("doc_id")))
        .distinct()
      val sh = idx
        .select(col("doc_id"), col("sh"))
        .join(candDocs, Seq("doc_id"), "left_semi")
      val verified = cand
        .join(sh.select(col("doc_id").as("doc1"), col("sh").as("sh1")), Seq("doc1"))
        .join(sh.select(col("doc_id").as("doc2"), col("sh").as("sh2")), Seq("doc2"))
        .where(
          size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
            (size(col("sh1")) + size(col("sh2")) - size(array_intersect(col("sh1"), col("sh2")))) >= 0.5)
        .select(col("doc1"), col("doc2"))
      val groups = Dedup.duplicateGroups(verified)
      docs
        .join(groups, Seq("doc_id"), "left")
        .select(
          col("doc_id"),
          coalesce(col("group_id"), col("doc_id")).as("group_id"),
          (coalesce(col("group_id"), col("doc_id")) === col("doc_id")).cast("int").as("is_keeper"))
        .orderBy("doc_id")
    },
      // verified pairs gate the closure; docs in no verified pair keep
      // themselves
      s"""WITH RECURSIVE ${minhashPairsCtes(3, 16, 8, 4096)},
          ver AS (
            SELECT p.doc1, p.doc2 FROM pairs p
            JOIN sh a ON a.doc_id = p.doc1
            JOIN sh b ON b.doc_id = p.doc2
            WHERE len(list_intersect(a.shingles, b.shingles))::DOUBLE /
                  (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))) >= 0.5),
          edges AS (SELECT doc1 AS src, doc2 AS dst FROM ver
                    UNION ALL SELECT doc2, doc1 FROM ver),
          reach(v, lbl) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.v = e.dst),
          grp AS (SELECT v AS doc_id, min(lbl) AS group_id FROM reach GROUP BY v)
          SELECT d.doc_id, coalesce(g.group_id, d.doc_id) AS group_id,
                 (coalesce(g.group_id, d.doc_id) = d.doc_id)::INTEGER AS is_keeper
          FROM documents d LEFT JOIN grp g USING (doc_id) ORDER BY doc_id"""),

    // -- 32-bit SimHash per document from token frequencies
    QueryDef("q_simhash", (s, dir) => {
      Dedup
        .simhash(Tokenize.tokens(t(s, dir, "documents"), "text", Seq("doc_id")))
        .orderBy("doc_id")
    },
      s"""WITH ${simhashSigCte(32)}
          SELECT doc_id, simhash FROM sig ORDER BY doc_id"""),

    // -- SimHash near-dup pairs: 60-bit signature, 6 pigeonhole bands of 10
    //    (exact for hamming <= 3), hot buckets capped at 4096 BEFORE pair
    //    expansion (cap mirrored in the oracle)
    QueryDef("q_simhash_pairs", (s, dir) => {
      Dedup
        .simhashPairs(
          Dedup.simhash(Tokenize.tokens(t(s, dir, "documents"), "text", Seq("doc_id")), bits = 60),
          maxDist = 3, bands = 6, sigBits = 60, maxBucket = 4096)
        .orderBy("doc1", "doc2")
    },
      // mirrors the banded + capped plan literally: 6 pigeonhole bands of 10
      // bits over the 60-bit signature, buckets kept only at 2..4096 members
      // (pigeonhole keeps this EXACT vs all-pairs while no bucket saturates —
      // SimhashSpec pins that equality; the cap itself is part of the
      // operator's declared semantics at scale, so the oracle reproduces it)
      s"""WITH ${simhashSigCte(60)},
          bnd AS (SELECT doc_id, simhash, band_idx,
                         (simhash >> (band_idx * 10)) & 1023 AS band_val
                  FROM sig CROSS JOIN (SELECT unnest(range(0, 6)) AS band_idx) bi),
          keep AS (SELECT band_idx, band_val FROM bnd
                   GROUP BY band_idx, band_val HAVING count(*) BETWEEN 2 AND 4096)
          SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2,
                 bit_count(xor(a.simhash, b.simhash))::INTEGER AS hamming
          FROM bnd a
          JOIN bnd b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
                    AND a.doc_id < b.doc_id
          JOIN keep k ON k.band_idx = a.band_idx AND k.band_val = a.band_val
          WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
          ORDER BY doc1, doc2"""),

    // -- sequence packing: per-language running token offsets into
    //    2048-token packs (deterministic, integer-exact)
    QueryDef("q_pack_sequences", (s, dir) => {
      operators.Packing
        .packByOffset(t(s, dir, "documents"), budget = 2048)
        .orderBy("doc_id")
    },
      """SELECT doc_id, lang, n_tok, floor(start_off / 2048)::BIGINT AS pack_id FROM (
           SELECT doc_id, lang, n_tok,
                  sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id) - n_tok AS start_off
           FROM (SELECT doc_id, lang,
                        len(regexp_split_to_array(text, '\s+'))::BIGINT AS n_tok
                 FROM documents) t) u
         ORDER BY doc_id"""),

    // -- pack manifests: member doc ids + token totals per (lang, pack) —
    //    the output the batch writer consumes
    QueryDef("q_pack_contents", (s, dir) => {
      operators.Packing
        .packContents(operators.Packing.packByOffset(t(s, dir, "documents"), budget = 2048))
        .select(
          col("lang"), col("pack_id"),
          array_join(col("doc_ids"), " ").as("doc_ids_str"),
          col("pack_tokens"), col("n_docs"))
        .orderBy("lang", "pack_id")
    },
      """SELECT lang, pack_id, array_to_string(list(doc_id ORDER BY doc_id), ' ') AS doc_ids_str,
                sum(n_tok)::BIGINT AS pack_tokens, count(*) AS n_docs
         FROM (
           SELECT doc_id, lang, n_tok, floor(start_off / 2048)::BIGINT AS pack_id FROM (
             SELECT doc_id, lang, n_tok,
                    sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id) - n_tok AS start_off
             FROM (SELECT doc_id, lang,
                          len(regexp_split_to_array(text, '\s+'))::BIGINT AS n_tok
                   FROM documents) t) u) p
         GROUP BY lang, pack_id ORDER BY lang, pack_id"""),

    // -- length-bucketed batch assembly: similar-length docs batched
    //    together (deterministic id-order rank within bucket), per-batch
    //    padding waste = n·max − sum; the two-pass chunked rank keeps
    //    bucket partitions bounded at scale
    QueryDef("q_length_batches", (s, dir) => {
      operators.Packing
        .lengthBucketBatches(t(s, dir, "documents"), batchSize = 16)
        .orderBy("bucket", "batch_id")
    },
      """WITH t AS (
           SELECT doc_id, len(regexp_split_to_array(text, '\s+'))::BIGINT AS n_tok
           FROM documents),
         b AS (
           SELECT doc_id, n_tok,
                  len(list_filter([8, 16, 32, 64, 128], x -> x <= n_tok)) AS bucket
           FROM t),
         r AS (
           SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY doc_id) - 1 AS rank0
           FROM b),
         a AS (
           SELECT bucket, (rank0 // 16)::BIGINT AS batch_id, count(*) AS n_docs,
                  max(n_tok) AS max_tok, sum(n_tok)::BIGINT AS sum_tok
           FROM r GROUP BY 1, 2)
         SELECT bucket, batch_id, n_docs, max_tok, sum_tok,
                (n_docs * max_tok - sum_tok)::BIGINT AS pad_tok
         FROM a ORDER BY bucket, batch_id"""),

    // -- one k-means (Lloyd) update: assign to max-cosine centroid, then
    //    element-wise member mean per cell (quantized x10^4 per dim)
    QueryDef("q_kmeans_update", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity
        .centroidUpdate(emb, emb.where(col("vec_id") < 8))
        .orderBy("cell")
    },
      """WITH e AS (
           SELECT vec_id, embedding,
                  sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
                       i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))) AS nrm
           FROM embeddings),
         c AS (SELECT vec_id AS c_id, embedding AS cv, nrm AS cn FROM e WHERE vec_id < 8),
         p AS (
           SELECT e.vec_id, c_id,
                  list_sum(list_transform(range(1, len(e.embedding) + 1),
                       i -> e.embedding[i]::DOUBLE * cv[i]::DOUBLE)) / (e.nrm * cn) AS cos
           FROM e CROSS JOIN c),
         asg AS (
           SELECT vec_id, cell FROM (
             SELECT vec_id, c_id AS cell,
                    row_number() OVER (PARTITION BY vec_id ORDER BY floor((cos) * 1e6 + 0.5) / 1e6 DESC, c_id) AS rn
             FROM p) r
           WHERE rn = 1),
         comp AS (
           SELECT a.cell, e.vec_id,
                  unnest(range(1, len(e.embedding) + 1)) AS pos,
                  unnest(list_transform(e.embedding, x -> x::DOUBLE)) AS v
           FROM asg a JOIN e ON e.vec_id = a.vec_id),
         m AS (
           SELECT cell, pos, floor(avg(v) * 1e4 + 0.5)::BIGINT AS m_q,
                  count(DISTINCT vec_id) AS n
           FROM comp GROUP BY cell, pos)
         SELECT cell, max(n)::BIGINT AS n_members,
                array_to_string(list(m_q ORDER BY pos), ' ') AS centroid_q
         FROM m GROUP BY cell ORDER BY cell"""),

    // -- full k-means training loop: 3 Lloyd rounds from the vec_id<8
    //    seeds (fixed round count keeps it DuckDB-expressible as an
    //    unrolled CTE; per-round 4-dp centroid quantization keeps every
    //    round's inputs cross-engine exact)
    QueryDef("q_kmeans_full", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity
        .kmeansIterate(emb, emb.where(col("vec_id") < 8), iters = 3)
        .orderBy("cell")
    },
      kmeansOracleSql(3),
      Some(Iteration(
        "early-exit: Lloyd loop stops when the observe() " +
          "moved-assignments metric hits 0 or maxIters (Similarity.kmeans)",
        (s, dir) => {
          val emb = s.read.parquet(s"$dir/embeddings.parquet")
          graft.operators.Similarity.lloydStep(emb, emb.where(col("vec_id") < 8))
        }))),

    // -- k-means|| scalable init (Bahmani et al. VLDB'12): 3 oversampling
    //    rounds, each ONE corpus pass drawing candidates with prob
    //    l*d^2/phi via exact integer verdicts (u*phi < l*d2i*2^60), then
    //    attraction weights — the distributed seeding k-means++ can't do
    QueryDef("q_kmeans_scalable", (s, dir) => {
      Similarity
        .kmeansParallelInit(t(s, dir, "embeddings"),
          rounds = 3, oversample = 8, capPerRound = 32)
        .orderBy("center_id")
    },
      kmeansParallelSql(3, 8, 32),
      Some(Iteration(
        "bounded-rounds: k-means|| runs a CONSTANT oversampling " +
          "round budget by definition (Bahmani et al. — O(log n) rounds suffice, constant " +
          "in practice); each round's candidate draw is capped at capPerRound " +
          "(Similarity.kmeansParallelInit)",
        // k-means|| round body: min-d2 fold, 1-row phi, exact integer
        // sampling verdict, capped TakeOrdered — candidate relation stands
        // in as the seed row (plan shape is candidate-count independent)
        (s, dir) => {
          val emb = s.read.parquet(s"$dir/embeddings.parquet")
          val data = emb.select(col("vec_id").cast("long").as("__id"),
            col("embedding").cast("array<double>").as("__v"))
          val cDf = data.orderBy(col("__id")).limit(1)
            .select(col("__id").as("__cid"), col("__v").as("__cv"))
          graft.operators.Similarity.kmeansParallelRound(data, cDf, 1, 8, 32)
        }))),

    // -- exact n-gram jaccard pairs (distributed: explode + equi-join on
    //    shingle, never an all-pairs cross join)
    QueryDef("q_ngram_jaccard", (s, dir) => {
      // explode_outer, NOT explode: explode makes InferFiltersFromGenerate
      // push a size(<shingle expr>)>0 filter below the projection, where the
      // whole (expensive) shingle expression is re-evaluated per scan row.
      // Shingle arrays are never empty, so the two are equivalent here.
      val sh = TextAnalysis
        .withShingles(
          t(s, dir, "documents").where(col("doc_id") < 120).select("doc_id", "text"),
          "text", 2, "__sh")
        .select(col("doc_id"), explode_outer(col("__sh")).as("shingle"))
      val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
      val inter = sh.as("a")
        .join(sh.as("b"), col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
        .agg(count(lit(1)).as("n_inter"))
      inter
        .join(sizes.withColumnRenamed("doc_id", "doc1").withColumnRenamed("sz", "sz1"), Seq("doc1"))
        .join(sizes.withColumnRenamed("doc_id", "doc2").withColumnRenamed("sz", "sz2"), Seq("doc2"))
        .withColumn("jaccard", col("n_inter").cast("double") / (col("sz1") + col("sz2") - col("n_inter")))
        .where(col("jaccard") >= 0.05)
        .select(col("doc1"), col("doc2"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("doc1", "doc2")
    },
      s"""WITH ${shinglesCte(2, "WHERE doc_id < 120")}
          SELECT doc1, doc2, floor((jaccard) * 1e4 + 0.5) / 1e4 AS jaccard FROM (
            SELECT a.doc_id AS doc1, b.doc_id AS doc2,
                   len(list_intersect(a.shingles, b.shingles))::DOUBLE /
                   (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))) AS jaccard
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id) p
          WHERE jaccard >= 0.05 ORDER BY doc1, doc2"""),

    // -- asymmetric containment: quotes (token slices 11..25 of every 7th
    //    doc, re-keyed +500000) matched against the corpus docs whose
    //    shingle sets COVER them — |S(q)∩S(c)|/|S(q)| >= 0.9, the
    //    inclusion case symmetric Jaccard misses at any usable threshold
    QueryDef("q_containment_dup", (s, dir) => {
      val corpus = t(s, dir, "documents").where(col("doc_id") < 400)
      val quotes = corpus
        .where(col("doc_id") % 7 === 0)
        .select(
          (col("doc_id") + 500000).as("doc_id"),
          concat_ws(" ", slice(split(col("text"), "\\s+"), 11, 15)).as("text"))
      Dedup
        .containmentPairs(corpus, quotes, shingleK = 3, threshold = 0.9)
        .orderBy("query_id", "corpus_id")
    },
      """WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 400),
         q0 AS (SELECT doc_id + 500000 AS doc_id,
                       array_to_string(list_slice(regexp_split_to_array(text, '\s+'), 11, 25), ' ') AS text
                FROM base WHERE doc_id % 7 = 0),
         u AS (SELECT doc_id, text, 'c' AS side FROM base
               UNION ALL SELECT doc_id, text, 'q' AS side FROM q0),
         t0 AS (SELECT side, doc_id,
                       list_filter(
                         list_transform(regexp_split_to_array(text, '\s+'),
                                        x -> regexp_replace(lower(x), '[^a-z]', '', 'g')),
                         w -> w <> '') AS toks
                FROM u),
         sh AS (SELECT side, doc_id,
                       CASE WHEN len(toks) = 0 THEN []::VARCHAR[]
                            WHEN len(toks) >= 3
                            THEN list_distinct(list_transform(range(1, len(toks) - 1),
                                 i -> array_to_string(list_slice(toks, i, i + 2), ' ')))
                            ELSE [array_to_string(toks, ' ')] END AS shingles
                FROM t0)
         SELECT query_id, corpus_id, cont AS containment_r FROM (
           SELECT q.doc_id AS query_id, c.doc_id AS corpus_id,
                  floor((len(list_intersect(q.shingles, c.shingles))::DOUBLE
                         / len(q.shingles)) * 1e4 + 0.5) / 1e4 AS cont
           FROM sh q JOIN sh c ON q.side = 'q' AND c.side = 'c'
           WHERE len(q.shingles) > 0) p
         WHERE cont >= 0.9 ORDER BY query_id, corpus_id"""),

    // -- EXACT set-similarity self-join via prefix filtering (AllPairs/
    //    PPJoin): recall-1.0 candidates from rare-first prefixes, exact
    //    verification — the deterministic counterpart to MinHash-LSH.
    //    k=3 shingles: the synthetic corpus has only ~1k distinct BIGRAMS
    //    (max df ~340 at sf0.1 — every prefix collides, 5.5M candidates
    //    for 256 true pairs, 34 s), while trigrams give ~27k distinct
    //    keys with max df 25 — prefix filtering needs a key space RARER
    //    than the docs, which is a property of the shingle choice, not
    //    the algorithm. Measured (r8, local[32], isolated 3-run): a
    //    same-shape corpus (5000 docs x 54 tokens) with a REALISTIC
    //    5k-word vocabulary runs 1.8-2.1 s steady-state vs 4.1-4.9 s on
    //    this 31-word corpus — the recorded sweep cost is trigram
    //    collision from the degenerate vocabulary (every doc's rarest
    //    shingle is still common) plus sweep co-location, not plan cost
    //    The exact mode's pair-density risk rides the query itself (r19
    //    verdict task 7): a stop-shingle Observation puts Σ df·(df−1)/2
    //    (retained_pair_bound) in the plan as a CollectMetrics node, so a
    //    duplicate-dense corpus declares its quadratic candidate ceiling
    //    at plan time — the adjudicated signal to move to q_setsim_capped
    QueryDef("q_setsim_join", (s, dir) => {
      Dedup
        .prefixJaccardJoin(t(s, dir, "documents"), threshold = 0.5, shingleK = 3,
          stopAudit = Some(org.apache.spark.sql.Observation("setsim_exact_pair_bound")))
        .orderBy("doc1", "doc2")
    },
      // the ORACLE is brute-force all-pairs — passing proves the prefix
      // filter's recall-1.0 claim cross-engine, not just in the spec
      s"""WITH ${shinglesCte(3)}
          SELECT doc1, doc2, floor((jaccard) * 1e4 + 0.5) / 1e4 AS jaccard FROM (
            SELECT a.doc_id AS doc1, b.doc_id AS doc2,
                   len(list_intersect(a.shingles, b.shingles))::DOUBLE /
                   (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))) AS jaccard
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE len(a.shingles) > 0 AND len(b.shingles) > 0) p
          WHERE jaccard >= 0.5 ORDER BY doc1, doc2"""),

    // -- BOUNDED-WORK exact setsim (r13 task 4): the df>5 stop-shingle
    //    cut removes hot shingles from every doc's set, so the result is
    //    the exact Jaccard join over the informative shingle space and
    //    every prefix bucket is ≤ dfCap members — candidate work bounded
    //    by dfCap²/2 per bucket REGARDLESS of corpus duplication. The cut
    //    itself is deterministic and fully mirrored in the oracle; the
    //    dropped mass is observe()-audited (ObserveSpec)
    QueryDef("q_setsim_capped", (s, dir) => {
      Dedup
        .prefixJaccardJoin(t(s, dir, "documents"), threshold = 0.5, shingleK = 3, dfCap = 5)
        .orderBy("doc1", "doc2")
    },
      // the stop-shingle cut mirrored exactly: per-shingle df over the
      // distinct per-doc shingle relation, sets filtered to df <= 5, docs
      // with empty filtered sets dropped, exact Jaccard over what remains
      s"""WITH ${shinglesCte(3)},
          ex AS (SELECT doc_id, unnest(shingles) AS g FROM sh),
          dfreq AS (SELECT g, count(*) AS df FROM ex GROUP BY g),
          kept AS (SELECT doc_id, list(g) AS ks
                   FROM ex JOIN dfreq USING (g) WHERE df <= 5 GROUP BY doc_id)
          SELECT doc1, doc2, floor((jaccard) * 1e4 + 0.5) / 1e4 AS jaccard FROM (
            SELECT a.doc_id AS doc1, b.doc_id AS doc2,
                   len(list_intersect(a.ks, b.ks))::DOUBLE /
                   (len(a.ks) + len(b.ks) - len(list_intersect(a.ks, b.ks))) AS jaccard
            FROM kept a JOIN kept b ON a.doc_id < b.doc_id) p
          WHERE jaccard >= 0.5 ORDER BY doc1, doc2"""),

    // -- dedup threshold-tuning table: the exact setsim pairs (floor 0.5)
    //    banded by Jaccard decile, with "pairs a threshold of band/10
    //    would still match" as a cumulative column — the what-if sweep
    //    run BEFORE committing a dedup threshold, from ONE pair pass.
    //    Cumulation via a bands²-sized self-join (≤ 36 rows), no
    //    single-partition window.
    QueryDef("q_dedup_threshold_sweep", (s, dir) => {
      val banded = Dedup
        .prefixJaccardJoin(t(s, dir, "documents"), threshold = 0.5, shingleK = 3)
        .withColumn("band", least(floor(col("jaccard") * 10), lit(9.0)).cast("int"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_pairs"))
        .pin()
      banded
        .join(banded.select(col("band").as("b2"), col("n_pairs").as("n2")),
          col("b2") >= col("band"))
        .groupBy(col("band"))
        .agg(first(col("n_pairs")).as("n_pairs"), sum(col("n2")).as("n_at_or_above"))
        .orderBy("band")
    },
      // brute-force jaccard pairs (the q_setsim_join proof pattern) banded
      // the same way; cumulative via the band self-join
      s"""WITH ${shinglesCte(3)},
          p AS (
            SELECT a.doc_id AS doc1, b.doc_id AS doc2,
                   len(list_intersect(a.shingles, b.shingles))::DOUBLE /
                   (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))) AS jaccard
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE len(a.shingles) > 0 AND len(b.shingles) > 0),
          r AS (SELECT floor((jaccard) * 1e4 + 0.5) / 1e4 AS j FROM p
                WHERE jaccard >= 0.5),
          g AS (SELECT least(floor(j * 10), 9)::INT AS band, count(*)::BIGINT AS n_pairs
                FROM r GROUP BY 1)
          SELECT a.band, any_value(a.n_pairs) AS n_pairs, sum(b.n_pairs)::BIGINT AS n_at_or_above
          FROM g a JOIN g b ON b.band >= a.band
          GROUP BY a.band ORDER BY a.band"""),

    // -- label-noise audit: own-centroid vs nearest-foreign-centroid
    //    cosine margin per labeled vector; negative margin = mislabel
    //    suspect (confident-learning shape, broadcast centroids, max_by)
    QueryDef("q_label_audit", (s, dir) => {
      Similarity
        .labelAudit(t(s, dir, "embeddings"))
        .orderBy("vec_id")
    },
      // assignment identical to q_ann_ivf's; per-dimension means quantized to
      // integers (x10^4) so no float formatting crosses the engine boundary
      """WITH e AS (
           SELECT vec_id, label, embedding,
                  sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
                       i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))) AS en
           FROM embeddings),
         comp AS (
           SELECT label AS c_label,
                  unnest(range(1, len(embedding) + 1)) AS pos,
                  unnest(list_transform(embedding, x -> x::DOUBLE)) AS v
           FROM embeddings),
         m AS (SELECT c_label, pos, floor(avg(v) * 1e4 + 0.5) / 1e4 AS m
               FROM comp GROUP BY 1, 2),
         c AS (SELECT c_label, list(m ORDER BY pos) AS cv FROM m GROUP BY 1),
         cn AS (SELECT c_label, cv,
                       sqrt(list_sum(list_transform(cv, x -> x * x))) AS cn
                FROM c),
         p AS (
           SELECT e.vec_id, e.label, cn.c_label,
                  floor((list_sum(list_transform(range(1, len(e.embedding) + 1),
                        i -> e.embedding[i]::DOUBLE * cv[i])) / (e.en * cn.cn)) * 1e6 + 0.5) / 1e6 AS cos6
           FROM e CROSS JOIN cn),
         own AS (SELECT vec_id, label, cos6 AS own_cos FROM p WHERE label = c_label),
         fr AS (SELECT vec_id, c_label AS nearest_other, cos6 AS other_cos FROM (
                  SELECT vec_id, c_label, cos6,
                         row_number() OVER (PARTITION BY vec_id
                                            ORDER BY cos6 DESC, c_label) AS rn
                  FROM p WHERE label <> c_label) x
                WHERE rn = 1)
         SELECT o.vec_id, o.label, f.nearest_other,
                floor((own_cos - other_cos) * 1e4 + 0.5) / 1e4 AS margin_r,
                (floor((own_cos - other_cos) * 1e4 + 0.5) / 1e4 < 0) AS suspect
         FROM own o JOIN fr f USING (vec_id) ORDER BY o.vec_id"""),

    // -- contrastive hard-negative mining: top-5 most-similar vectors per
    //    query EXCLUDING the near-dup band (cos > 0.6 here — the corpus
    //    near-dups sit above it), dup filter before the bounded top-k
    QueryDef("q_hard_negatives", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity
        .hardNegatives(emb, emb.where(col("vec_id") < 10), k = 5, maxCos = 0.6)
        .orderBy("q_id", "rank")
    },
      // the cos <= 0.6 dup-band filter precedes the rank, mirroring the
      // pre-aggregate filter in the Spark plan
      """WITH e AS (
           SELECT vec_id, embedding,
                  sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
                       i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))) AS nrm
           FROM embeddings),
         q AS (SELECT vec_id AS q_id, embedding AS qv, nrm AS qn FROM e WHERE vec_id < 10),
         pairs AS (
           SELECT q_id, e.vec_id,
                  list_sum(list_transform(range(1, len(e.embedding) + 1),
                       i -> qv[i]::DOUBLE * e.embedding[i]::DOUBLE)) / (qn * e.nrm) AS cos
           FROM q CROSS JOIN e WHERE e.vec_id <> q_id)
         SELECT q_id, vec_id, rank, cos_r FROM (
           SELECT q_id, vec_id, floor((cos) * 1e4 + 0.5) / 1e4 AS cos_r,
                  row_number() OVER (PARTITION BY q_id ORDER BY floor((cos) * 1e6 + 0.5) / 1e6 DESC, vec_id) AS rank
           FROM pairs WHERE cos <= 0.6) r
         WHERE rank <= 5 ORDER BY q_id, rank"""),

    // -- exact ANN baseline: brute-force cosine top-5 for 10 query vectors
    QueryDef("q_embed_cosine_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity
        .bruteForceTopK(emb, emb.where(col("vec_id") < 10), k = 5)
        .orderBy("q_id", "rank")
    },
      """WITH e AS (
           SELECT vec_id, embedding,
                  sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
                       i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))) AS nrm
           FROM embeddings),
         q AS (SELECT vec_id AS q_id, embedding AS qv, nrm AS qn FROM e WHERE vec_id < 10),
         pairs AS (
           SELECT q_id, e.vec_id,
                  list_sum(list_transform(range(1, len(e.embedding) + 1),
                       i -> qv[i]::DOUBLE * e.embedding[i]::DOUBLE)) / (qn * e.nrm) AS cos
           FROM q CROSS JOIN e WHERE e.vec_id <> q_id)
         SELECT q_id, vec_id, rank, cos_r FROM (
           SELECT q_id, vec_id, floor((cos) * 1e4 + 0.5) / 1e4 AS cos_r,
                  row_number() OVER (PARTITION BY q_id ORDER BY floor((cos) * 1e6 + 0.5) / 1e6 DESC, vec_id) AS rank
           FROM pairs) r
         WHERE rank <= 5 ORDER BY q_id, rank"""),

    // -- ANN scale path: random-hyperplane LSH bucket per vector
    QueryDef("q_ann_lsh_buckets", (s, dir) => {
      Similarity
        .withLshBucket(t(s, dir, "embeddings"), "embedding", planes = 8)
        .select(col("vec_id"), col("bucket"))
        .orderBy("vec_id")
    },
      lshBucketSql(8)),

    // -- embedding-cosine near-dup pairs, LSH-pruned, two independent
    //    bucket tables OR'd for recall, hot buckets capped at 4096 before
    //    the self-join (the scale path; cap mirrored in the oracle)
    QueryDef("q_dedup_embedding", (s, dir) => {
      Similarity
        .cosineNearDupPairs(t(s, dir, "embeddings"), thr = 0.25, planes = 4, tables = 2,
          maxBucket = 4096)
        .orderBy("v1", "v2")
    },
      // keep CTE mirrors the maxBucket=4096 guard (vacuous at sf0.01/sf0.1 —
      // no bucket saturates — but the oracle reproduces the declared operator,
      // cap included)
      s"""WITH b AS (SELECT vec_id, '0|' || ((${lshBucketExpr(4, 0)})::BIGINT)::VARCHAR AS bucket FROM embeddings
                     UNION ALL
                     SELECT vec_id, '1|' || ((${lshBucketExpr(4, 4)})::BIGINT)::VARCHAR AS bucket FROM embeddings),
          keep AS (SELECT bucket FROM b GROUP BY bucket HAVING count(*) BETWEEN 2 AND 4096),
          e AS (SELECT vec_id, embedding,
                       sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
                            i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))) AS nrm
                FROM embeddings)
          SELECT DISTINCT v1, v2, floor((cos) * 1e4 + 0.5) / 1e4 AS cos_r FROM (
            SELECT a.vec_id AS v1, c.vec_id AS v2,
                   list_sum(list_transform(range(1, len(ea.embedding) + 1),
                        i -> ea.embedding[i]::DOUBLE * ec.embedding[i]::DOUBLE)) / (ea.nrm * ec.nrm) AS cos
            FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
            JOIN keep k ON k.bucket = a.bucket
            JOIN e ea ON ea.vec_id = a.vec_id
            JOIN e ec ON ec.vec_id = c.vec_id) p
          WHERE cos >= 0.25 ORDER BY v1, v2"""),

    // -- mutual (reciprocal) best-match between two embedding sets — the
    //    bitext-mining core: even vec_ids as side A, odd as side B; a pair
    //    survives only if each is the other's top-1 cosine. One broadcast
    //    pair relation, both direction ranks as two windows over it;
    //    reciprocity caps any hub vector at one edge, so the output is a
    //    partial matching. (At 100 TB the pair relation comes from the
    //    LSH/IVF candidate generators; the reciprocity filter is the same.)
    QueryDef("q_mutual_match", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity
        .mutualTopMatch(
          emb.where(col("vec_id") % 2 === 0),
          emb.where(col("vec_id") % 2 === 1))
        .orderBy("a_id")
    },
      // both direction ranks from ONE pair relation; 6-dp rank rounding and
      // partner-id tie-break mirror the Spark windows exactly
      """WITH e AS (
           SELECT vec_id, embedding,
                  sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
                       i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))) AS nrm
           FROM embeddings),
         a AS (SELECT vec_id AS a_id, embedding AS av, nrm AS an FROM e WHERE vec_id % 2 = 0),
         b AS (SELECT vec_id AS b_id, embedding AS bv, nrm AS bn FROM e WHERE vec_id % 2 = 1),
         p AS (SELECT a_id, b_id,
                      list_sum(list_transform(range(1, len(av) + 1),
                           i -> av[i]::DOUBLE * bv[i]::DOUBLE)) / (an * bn) AS cos
               FROM a CROSS JOIN b),
         r AS (SELECT a_id, b_id, cos,
                      row_number() OVER (PARTITION BY a_id
                        ORDER BY floor(cos * 1e6 + 0.5) / 1e6 DESC, b_id) AS ra,
                      row_number() OVER (PARTITION BY b_id
                        ORDER BY floor(cos * 1e6 + 0.5) / 1e6 DESC, a_id) AS rb
               FROM p)
         SELECT a_id, b_id, floor(cos * 1e4 + 0.5) / 1e4 AS cos_r
         FROM r WHERE ra = 1 AND rb = 1 ORDER BY a_id"""),

    // -- per-cluster MEDOID: within each IVF cell (vec_id<8 centroids),
    //    the member maximizing summed cosine to its cellmates — the
    //    cluster's REAL exemplar (centroids are synthetic means), the
    //    coreset-selection primitive. Σ|cell|² pair space, maxCell guard,
    //    per-cell argmax as map-side max_by; singletons are their own
    //    medoid at sum 0.
    QueryDef("q_cell_medoid", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity
        .cellMedoid(emb, emb.where(col("vec_id") < 8))
        .orderBy("cell")
    },
      // same cell-assignment mirror as q_ann_ivf; summed in-cell cosines,
      // singleton cells seeded at 0, per-cell argmax with id tie-break
      """WITH e AS (
           SELECT vec_id, embedding,
                  sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
                       i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))) AS nrm
           FROM embeddings),
         c AS (SELECT vec_id AS c_id, embedding AS cv, nrm AS cn FROM e WHERE vec_id < 8),
         p AS (
           SELECT e.vec_id, c_id,
                  list_sum(list_transform(range(1, len(e.embedding) + 1),
                       i -> e.embedding[i]::DOUBLE * cv[i]::DOUBLE)) / (e.nrm * cn) AS cos
           FROM e CROSS JOIN c),
         asn AS (SELECT vec_id, cell FROM (
                   SELECT vec_id, c_id AS cell,
                          row_number() OVER (PARTITION BY vec_id
                            ORDER BY floor(cos * 1e6 + 0.5) / 1e6 DESC, c_id) AS rn
                   FROM p) r WHERE rn = 1),
         mem AS (SELECT a.vec_id, a.cell, e.embedding, e.nrm
                 FROM asn a JOIN e ON e.vec_id = a.vec_id),
         keep AS (SELECT cell FROM mem GROUP BY cell HAVING count(*) <= 4096),
         km AS (SELECT mem.* FROM mem JOIN keep USING (cell)),
         s AS (SELECT m1.cell, m1.vec_id AS v,
                      floor((sum(list_sum(list_transform(range(1, len(m1.embedding) + 1),
                           i -> m1.embedding[i]::DOUBLE * m2.embedding[i]::DOUBLE))
                        / (m1.nrm * m2.nrm))) * 1e6 + 0.5) / 1e6 AS sumcos_r
               FROM km m1 JOIN km m2 ON m1.cell = m2.cell AND m1.vec_id <> m2.vec_id
               GROUP BY 1, 2),
         am AS (SELECT km.cell, km.vec_id AS v, coalesce(s.sumcos_r, 0.0) AS sumcos_r
                FROM km LEFT JOIN s ON s.cell = km.cell AND s.v = km.vec_id),
         n AS (SELECT cell, count(*) AS n_members FROM km GROUP BY cell)
         SELECT cell, v AS medoid_id, n_members, sumcos_r FROM (
           SELECT a.cell, a.v, a.sumcos_r, n.n_members,
                  row_number() OVER (PARTITION BY a.cell
                    ORDER BY a.sumcos_r DESC, a.v) AS rn
           FROM am a JOIN n USING (cell)) z
         WHERE rn = 1 ORDER BY cell"""),

    // -- c-TF-IDF cluster labeling (BERTopic shape): top-5 terms per IVF
    //    cell whose in-cell frequency is high and cluster-df low — the
    //    human-readable "what is this cluster about?" label. (cell, word)-
    //    sized work after one token join; rank windows over per-cell
    //    vocabularies. vec_id ≡ doc_id on this corpus (the q_hybrid_search
    //    alignment).
    QueryDef("q_cluster_terms", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val asn = Similarity.ivfAssign(emb, emb.where(col("vec_id") < 8))
        .select(col("vec_id").as("doc_id"), col("cell"))
      Similarity
        .clusterTopTerms(
          Tokenize.tokens(t(s, dir, "documents"), "text", Seq("doc_id")), asn, k = 5)
        .orderBy("cell", "rank")
    },
      // same cell-assignment mirror; c-TF-IDF score on the (cell, word)
      // counts with smoothed cluster-idf, QUALIFY-style top-5 per cell
      s"""WITH $TokCte,
          e AS (
            SELECT vec_id, embedding,
                   sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
                        i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))) AS nrm
            FROM embeddings),
          c AS (SELECT vec_id AS c_id, embedding AS cv, nrm AS cn FROM e WHERE vec_id < 8),
          p AS (
            SELECT e.vec_id, c_id,
                   list_sum(list_transform(range(1, len(e.embedding) + 1),
                        i -> e.embedding[i]::DOUBLE * cv[i]::DOUBLE)) / (e.nrm * cn) AS cos
            FROM e CROSS JOIN c),
          asn AS (SELECT vec_id AS doc_id, cell FROM (
                    SELECT vec_id, c_id AS cell,
                           row_number() OVER (PARTITION BY vec_id
                             ORDER BY floor(cos * 1e6 + 0.5) / 1e6 DESC, c_id) AS rn
                    FROM p) r WHERE rn = 1),
          tf AS (SELECT asn.cell, tok.word, count(*) AS tf
                 FROM tok JOIN asn ON tok.doc_id = asn.doc_id GROUP BY 1, 2),
          cdf AS (SELECT word, count(*) AS cw FROM tf GROUP BY word),
          n AS (SELECT count(DISTINCT cell) AS n_cells FROM tf),
          sc AS (SELECT tf.cell, tf.word, tf.tf,
                        floor((tf.tf * ln((1.0 + n_cells) / (1.0 + cw))) * 1e6 + 0.5) / 1e6 AS score_r
                 FROM tf JOIN cdf USING (word) CROSS JOIN n)
          SELECT cell, rank, word, tf, score_r FROM (
            SELECT cell, word, tf, score_r,
                   row_number() OVER (PARTITION BY cell
                     ORDER BY score_r DESC, word) AS rank
            FROM sc) z
          WHERE rank <= 5 ORDER BY cell, rank"""),

    // -- MMR diversified top-k (Carbonell & Goldstein SIGIR'98): greedy
    //    λ·rel − (1−λ)·max-sim-to-selected over the top-20 candidates by
    //    cosine to the vec_id=0 query — k diverse exemplars instead of k
    //    near-copies. Distributed part = scoring + bounded top-n cut;
    //    greedy rounds run over the checkpointed n-candidate relation
    //    (1-row collect per round, BPE-loop discipline). 6-dp rounded
    //    scores + id tie-break ⇒ the selection replays exactly.
    QueryDef("q_mmr_select", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity
        .mmrSelect(emb, emb.where(col("vec_id") === 0), n = 20, k = 4, lambda = 0.7)
        .orderBy("rank")
    },
      mmrSql(n = 20, k = 4, lambda = 0.7),
      Some(Iteration(
        "early-exit: greedy loop `while (picked.size < k && !exhausted)` — " +
          "k selections is the budget, candidate exhaustion the exit (Similarity.mmrSelect)",
        // round 12: one MMR greedy round body — the argmax scoring plan
        // over the candidate/pair relations (checkpointed in the real loop)
        // with a literal selected set; plan shape independent of the ids
        (s, dir) => {
          import graft.operators.Similarity
          import graft.functions.Portable
          val emb = s.read.parquet(s"$dir/embeddings.parquet")
          val q = emb.where(col("vec_id") === 0)
            .select(col("embedding").as("qv"))
            .withColumn("qn", Similarity.norm("qv"))
          val cand = emb.select(col("vec_id"), col("embedding").as("ev"))
            .withColumn("en", Similarity.norm("ev"))
            .crossJoin(broadcast(q))
            .withColumn("rel_r",
              Portable.pround(Similarity.dot(col("ev"), col("qv")) / (col("en") * col("qn")), 6))
            .select(col("vec_id"), col("ev"), col("en"), col("rel_r"))
            .orderBy(col("rel_r").desc, col("vec_id").asc)
            .limit(20)
          val pairs = cand.select(col("vec_id").as("a"), col("ev").as("va"), col("en").as("na"))
            .crossJoin(cand.select(col("vec_id").as("b"), col("ev").as("vb"), col("en").as("nb")))
            .where(col("a") =!= col("b"))
            .select(col("a"), col("b"),
              Portable.pround(Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")), 6)
                .as("sim_r"))
          pairs
            .where(col("b").isin(0L) && !col("a").isin(0L))
            .groupBy(col("a").as("vec_id"))
            .agg(max(col("sim_r")).as("maxsim_r"))
            .join(cand.select(col("vec_id"), col("rel_r")), Seq("vec_id"))
            .select(col("vec_id"),
              Portable.pround(lit(0.7) * col("rel_r") - lit(0.3) * col("maxsim_r"), 6)
                .as("score_r"))
            .orderBy(col("score_r").desc, col("vec_id").asc)
            .limit(1)
        }))),

    // -- multi-probe variant: ONE table, each vector also probes the 4
    //    buckets one sign-bit away — the cheap-recall lever when a second
    //    table is too expensive (cap mirrored; singletons kept since they
    //    can pair through a neighbor's probe). probeMaxBucket = 32 BINDS at
    //    sf0.01 (bucket sizes run 18–47): flipped visits into the 8 hot
    //    buckets are dropped, own-bucket pairs stay — the r16 per-probe
    //    hot-bucket cap, proved by the oracle mirroring the cut exactly
    QueryDef("q_dedup_embedding_probe", (s, dir) => {
      Similarity
        .cosineNearDupPairs(t(s, dir, "embeddings"), thr = 0.25, planes = 4, tables = 1,
          maxBucket = 4096, probes = 4, probeMaxBucket = 32)
        .orderBy("v1", "v2")
    },
      // single-table multi-probe mirror: kept-origin members (cap, singletons
      // allowed) probe their own bucket + the 4 one-bit flips; flipped visits
      // only land in buckets at or under probeMaxBucket = 32 members (the
      // per-probe hot-bucket cap — own-bucket visits are exempt). Probe-pair
      // retention is id-order-free (r16 advice fix): own-bucket pairs keep
      // v1 < v2, probe pairs take ANY orientation and normalize via
      // least/greatest, so hot–cold flip pairs survive via the cold side.
      s"""WITH b AS (SELECT vec_id, (${lshBucketExpr(4, 0)})::BIGINT AS bkt FROM embeddings),
          cnt AS (SELECT bkt, count(*) AS n FROM b GROUP BY bkt),
          keep AS (SELECT bkt FROM cnt WHERE n BETWEEN 1 AND 4096),
          pkeep AS (SELECT bkt FROM cnt WHERE n <= 32),
          bk AS (SELECT vec_id, b.bkt FROM b JOIN keep USING (bkt)),
          fl AS (SELECT vec_id, f.pbkt
                 FROM (SELECT vec_id, unnest([xor(bkt, 1), xor(bkt, 2), xor(bkt, 4), xor(bkt, 8)]) AS pbkt
                       FROM bk) f
                 JOIN pkeep ON pkeep.bkt = f.pbkt),
          pairs AS (SELECT a.vec_id AS v1, o.vec_id AS v2
                    FROM bk a JOIN bk o ON o.bkt = a.bkt AND a.vec_id < o.vec_id
                    UNION ALL
                    SELECT least(a.vec_id, p.vec_id) AS v1, greatest(a.vec_id, p.vec_id) AS v2
                    FROM bk a JOIN fl p ON p.pbkt = a.bkt AND a.vec_id <> p.vec_id),
          e AS (SELECT vec_id, embedding,
                       sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
                            i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))) AS nrm
                FROM embeddings)
          SELECT DISTINCT v1, v2, floor((cos) * 1e4 + 0.5) / 1e4 AS cos_r FROM (
            SELECT u.v1, u.v2,
                   list_sum(list_transform(range(1, len(ea.embedding) + 1),
                        i -> ea.embedding[i]::DOUBLE * ec.embedding[i]::DOUBLE)) / (ea.nrm * ec.nrm) AS cos
            FROM pairs u
            JOIN e ea ON ea.vec_id = u.v1
            JOIN e ec ON ec.vec_id = u.v2) u
          WHERE cos >= 0.25 ORDER BY v1, v2"""),

    // -- product-quantization encode: 4 subspaces of 16 dims, codebooks =
    //    the vec_id<8 embeddings sliced per subspace (IVF-PQ's compression
    //    half; 64 floats -> 4 code ids)
    QueryDef("q_ann_pq_encode", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val codebooks = (0 until 4)
        .map(sub => emb.where(col("vec_id") < 8).select(
          lit(sub).as("sub"),
          col("vec_id").as("code_id"),
          slice(col("embedding"), sub * 16 + 1, 16).as("cw")))
        .reduce(_ unionAll _)
      Similarity
        .pqEncode(emb, codebooks, m = 4, subDim = 16)
        .orderBy("vec_id")
    },
      // L2 argmin per (vector, subspace) with the same portable rounding and
      // code-ASC tie-break; ||x-c||^2 expanded as x·x - 2x·c + c·c exactly
      // like the Spark expression
      """WITH sp AS (SELECT unnest(range(0, 4)) AS sub),
          cb AS (SELECT sub, vec_id AS code_id,
                        list_slice(embedding, sub * 16 + 1, sub * 16 + 16) AS cw
                 FROM embeddings CROSS JOIN sp WHERE vec_id < 8),
          sv AS (SELECT vec_id, sub,
                        list_slice(embedding, sub * 16 + 1, sub * 16 + 16) AS sv
                 FROM embeddings CROSS JOIN sp),
          d AS (SELECT sv.vec_id, sv.sub, cb.code_id,
                       list_sum(list_transform(range(1, 17), i -> sv.sv[i]::DOUBLE * sv.sv[i]::DOUBLE))
                       - 2.0 * list_sum(list_transform(range(1, 17), i -> sv.sv[i]::DOUBLE * cb.cw[i]::DOUBLE))
                       + list_sum(list_transform(range(1, 17), i -> cb.cw[i]::DOUBLE * cb.cw[i]::DOUBLE)) AS dist
                FROM sv JOIN cb ON cb.sub = sv.sub),
          enc AS (SELECT vec_id, sub, code_id FROM (
                    SELECT vec_id, sub, code_id,
                           row_number() OVER (PARTITION BY vec_id, sub
                                              ORDER BY floor((dist) * 1e6 + 0.5) / 1e6, code_id) AS rn
                    FROM d) r
                  WHERE rn = 1)
          SELECT vec_id, array_to_string(list(code_id ORDER BY sub), ' ') AS codes_str
          FROM enc GROUP BY vec_id ORDER BY vec_id"""),

    // -- IVF cell assignment: vec_id<8 embeddings act as the trained centroids
    QueryDef("q_ann_ivf", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity
        .ivfAssign(emb, emb.where(col("vec_id") < 8))
        .orderBy("vec_id")
    },
      """WITH e AS (
           SELECT vec_id, embedding,
                  sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
                       i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))) AS nrm
           FROM embeddings),
         c AS (SELECT vec_id AS c_id, embedding AS cv, nrm AS cn FROM e WHERE vec_id < 8),
         p AS (
           SELECT e.vec_id, c_id,
                  list_sum(list_transform(range(1, len(e.embedding) + 1),
                       i -> e.embedding[i]::DOUBLE * cv[i]::DOUBLE)) / (e.nrm * cn) AS cos
           FROM e CROSS JOIN c)
         SELECT vec_id, cell, cos_r FROM (
           SELECT vec_id, c_id AS cell, floor((cos) * 1e4 + 0.5) / 1e4 AS cos_r,
                  row_number() OVER (PARTITION BY vec_id ORDER BY floor((cos) * 1e6 + 0.5) / 1e6 DESC, c_id) AS rn
           FROM p) r
         WHERE rn = 1 ORDER BY vec_id"""),

    // -- semantic decontamination: corpus vectors at cosine >= 0.3 to any
    //    benchmark vector (vec_id < 8) quarantined with their nearest
    //    benchmark item — the paraphrase leak k-gram overlap misses
    QueryDef("q_sem_decontam", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity
        .semDecontam(emb.where(col("vec_id") >= 8), emb.where(col("vec_id") < 8),
          threshold = 0.3)
        .orderBy("vec_id")
    },
      // nearest-benchmark argmax over the same rounded cosine grid; only
      // rows at cos_r >= threshold survive (mirror of Similarity.semDecontam)
      silhouetteSql(
      """SELECT vec_id, c_id AS bench_id, cos_r FROM r
         WHERE rn = 1 AND cos_r >= 0.3 ORDER BY vec_id""")),

    // -- per-source keyness: top-10 G²-overused terms per source vs the
    //    rest of the corpus — the "what is this source about" profile
    //    behind mixture design (Rayson–Garside frequency profiling)
    QueryDef("q_keyness", (s, dir) => {
      operators.Cooccurrence
        .keyness(
          operators.Tokenize.tokens(t(s, dir, "documents"), "text", Seq("source")),
          "source", k = 10, minCount = 5)
        .orderBy("source", "rank")
    },
      // per-source token contingency vs the rest of the corpus; four
      // fixed-order ln terms, overuse by integer cross-multiply, rank per
      // source (mirror of Cooccurrence.keyness)
      """WITH tok AS (
           SELECT source, w AS word FROM (
             SELECT source,
                    regexp_replace(lower(unnest(regexp_split_to_array(text, '\s+'))),
                                   '[^a-z]', '', 'g') AS w
             FROM documents) u
           WHERE w <> ''),
         cnt AS (SELECT source, word, count(*)::BIGINT AS a FROM tok GROUP BY 1, 2),
         wt AS (SELECT word, sum(a)::BIGINT AS wtot FROM cnt GROUP BY 1),
         st AS (SELECT source, sum(a)::BIGINT AS n1 FROM cnt GROUP BY 1),
         tot AS (SELECT sum(n1)::BIGINT AS nn FROM st),
         sc AS (
           SELECT cnt.source, cnt.word, a AS n_in, wtot - a AS n_out,
                  floor((2.0 * (
                    CASE WHEN a > 0
                         THEN a::DOUBLE * ln(a::DOUBLE * nn::DOUBLE
                                             / (n1::DOUBLE * wtot::DOUBLE)) ELSE 0.0 END
                  + CASE WHEN n1 - a > 0
                         THEN (n1 - a)::DOUBLE * ln((n1 - a)::DOUBLE * nn::DOUBLE
                                             / (n1::DOUBLE * (nn - wtot)::DOUBLE)) ELSE 0.0 END
                  + CASE WHEN wtot - a > 0
                         THEN (wtot - a)::DOUBLE * ln((wtot - a)::DOUBLE * nn::DOUBLE
                                             / ((nn - n1)::DOUBLE * wtot::DOUBLE)) ELSE 0.0 END
                  + CASE WHEN nn - n1 - (wtot - a) > 0
                         THEN (nn - n1 - (wtot - a))::DOUBLE
                              * ln((nn - n1 - (wtot - a))::DOUBLE * nn::DOUBLE
                                   / ((nn - n1)::DOUBLE * (nn - wtot)::DOUBLE)) ELSE 0.0 END
                  )) * 1e4 + 0.5) / 1e4 AS g2_r
           FROM cnt JOIN wt USING (word) JOIN st USING (source) CROSS JOIN tot
           WHERE a >= 5
             AND a::HUGEINT * (nn - n1)::HUGEINT > (wtot - a)::HUGEINT * n1::HUGEINT),
         rk AS (SELECT *, row_number() OVER (PARTITION BY source
                                             ORDER BY g2_r DESC, word) AS rank
                FROM sc)
         SELECT source, word, n_in, n_out, g2_r, rank
         FROM rk WHERE rank <= 10 ORDER BY source, rank"""),

    // -- simplified silhouette per IVF cell: (b−a)/max(a,b) from own vs
    //    nearest-other centroid distance — grades the PARTITION (compact
    //    and separated vs merged) with zero pair expansion
    QueryDef("q_silhouette", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity
        .silhouetteSimplified(emb.where(col("vec_id") >= 8), emb.where(col("vec_id") < 8))
        .orderBy("cell")
    },
      // own vs nearest-other centroid distances from 6dp-rounded cosines;
      // per-point s rounded, per-cell means on 1e6-scaled HUGEINT sums
      // (mirror of Similarity.silhouetteSimplified)
      silhouetteSql(
      """SELECT cell, count(*)::BIGINT AS n,
                floor((sum(floor(s * 1e6 + 0.5))::HUGEINT::DOUBLE / 1e6
                       / count(*)::DOUBLE) * 1e6 + 0.5) / 1e6 AS sil_r,
                floor((sum(floor(da * 1e6 + 0.5))::HUGEINT::DOUBLE / 1e6
                       / count(*)::DOUBLE) * 1e6 + 0.5) / 1e6 AS a_mean_r
         FROM sv GROUP BY cell ORDER BY cell""")),

    // -- Davies–Bouldin terms per IVF cell: worst-neighbor
    //    (S_i+S_j)/M_ij from the same scatter pass + a k² centroid
    //    self-join — one merged-looking pair reads as two high-R rows
    QueryDef("q_cluster_db", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity
        .daviesBouldin(emb.where(col("vec_id") >= 8), emb.where(col("vec_id") < 8))
        .orderBy("cell")
    },
      // same scatter pass + k^2 centroid separation join; R terms from the
      // ROUNDED (S, M) pieces, max over k-1 neighbors
      silhouetteSql(
      """sc AS (SELECT cell, count(*)::BIGINT AS n,
                       floor((sum(floor(da * 1e6 + 0.5))::HUGEINT::DOUBLE / 1e6
                              / count(*)::DOUBLE) * 1e6 + 0.5) / 1e6 AS s_r
                FROM sv GROUP BY cell),
          sep AS (SELECT x.c_id, y.c_id AS d_id,
                         floor((1.0 - list_sum(list_transform(range(1, len(x.cv) + 1),
                                    i -> x.cv[i]::DOUBLE * y.cv[i]::DOUBLE)) / (x.cn * y.cn))
                               * 1e6 + 0.5) / 1e6 AS m_r
                  FROM c x JOIN c y ON x.c_id <> y.c_id),
          rt AS (SELECT sc.cell, sc.n, sc.s_r,
                        CASE WHEN sep.m_r > 0.0 AND sj.s_r IS NOT NULL
                             THEN floor(((sc.s_r + sj.s_r) / sep.m_r) * 1e6 + 0.5) / 1e6
                        END AS rterm
                 FROM sc LEFT JOIN sep ON sep.c_id = sc.cell
                 LEFT JOIN sc sj ON sj.cell = sep.d_id)
          SELECT cell, max(n)::BIGINT AS n, max(s_r) AS s_r, max(rterm) AS r_max_r
          FROM rt GROUP BY cell ORDER BY cell""", extraCte = true)),

    // -- IVF probe SEARCH: queries probe their 2 max-cosine cells and
    //    exact-search only those cells' members (centroids / queries /
    //    corpus are disjoint id ranges)
    QueryDef("q_ann_ivf_search", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity
        .ivfSearch(
          emb.where(col("vec_id") >= 18),
          emb.where(col("vec_id") < 8),
          emb.where(col("vec_id").between(8, 17)),
          k = 5, nprobe = 2)
        .orderBy("q_id", "rank")
    },
      // probe ranking and routing share the (cos₆ DESC, id ASC) tie-break, so
      // the mirror uses the identical row_number keys at every stage
      """WITH e AS (
           SELECT vec_id, embedding,
                  sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
                       i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))) AS nrm
           FROM embeddings),
         c AS (SELECT vec_id AS c_id, embedding AS cv, nrm AS cn FROM e WHERE vec_id < 8),
         q AS (SELECT vec_id AS q_id, embedding AS qv, nrm AS qn FROM e WHERE vec_id >= 8 AND vec_id <= 17),
         corp AS (SELECT vec_id, embedding AS ev, nrm AS en FROM e WHERE vec_id >= 18),
         ac AS (
           SELECT corp.vec_id, c_id,
                  list_sum(list_transform(range(1, len(ev) + 1),
                       i -> ev[i]::DOUBLE * cv[i]::DOUBLE)) / (en * cn) AS cos
           FROM corp CROSS JOIN c),
         asg AS (
           SELECT vec_id, cell FROM (
             SELECT vec_id, c_id AS cell,
                    row_number() OVER (PARTITION BY vec_id ORDER BY floor((cos) * 1e6 + 0.5) / 1e6 DESC, c_id) AS rn
             FROM ac) r
           WHERE rn = 1),
         pc AS (
           SELECT q_id, c_id,
                  list_sum(list_transform(range(1, len(qv) + 1),
                       i -> qv[i]::DOUBLE * cv[i]::DOUBLE)) / (qn * cn) AS cos
           FROM q CROSS JOIN c),
         probe AS (
           SELECT q_id, cell FROM (
             SELECT q_id, c_id AS cell,
                    row_number() OVER (PARTITION BY q_id ORDER BY floor((cos) * 1e6 + 0.5) / 1e6 DESC, c_id) AS rn
             FROM pc) r
           WHERE rn <= 2),
         cand AS (
           SELECT p.q_id, corp.vec_id,
                  list_sum(list_transform(range(1, len(q.qv) + 1),
                       i -> q.qv[i]::DOUBLE * corp.ev[i]::DOUBLE)) / (q.qn * corp.en) AS cos
           FROM probe p
           JOIN asg a ON a.cell = p.cell
           JOIN corp ON corp.vec_id = a.vec_id
           JOIN q ON q.q_id = p.q_id
           WHERE corp.vec_id <> p.q_id)
         SELECT q_id, vec_id, rank, cos_r FROM (
           SELECT q_id, vec_id, floor((cos) * 1e4 + 0.5) / 1e4 AS cos_r,
                  row_number() OVER (PARTITION BY q_id ORDER BY floor((cos) * 1e6 + 0.5) / 1e6 DESC, vec_id) AS rank
           FROM cand) r
         WHERE rank <= 5 ORDER BY q_id, rank"""),

    // -- ANN recall eval: IVF@5 (nprobe=2) measured against brute-force@5
    //    ground truth per query — the recall/cost dial, measured not assumed
    QueryDef("q_ann_recall", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity
        .annRecallEval(
          emb.where(col("vec_id") >= 18),
          emb.where(col("vec_id") < 8),
          emb.where(col("vec_id").between(8, 17)),
          k = 5, nprobe = 2)
        .orderBy("q_id")
    },
      // the ivf_search mirror extended with the brute-force truth: recall is
      // the (q, id) intersection of the two top-5 sets
      """WITH e AS (
           SELECT vec_id, embedding,
                  sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
                       i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))) AS nrm
           FROM embeddings),
         c AS (SELECT vec_id AS c_id, embedding AS cv, nrm AS cn FROM e WHERE vec_id < 8),
         q AS (SELECT vec_id AS q_id, embedding AS qv, nrm AS qn FROM e WHERE vec_id >= 8 AND vec_id <= 17),
         corp AS (SELECT vec_id, embedding AS ev, nrm AS en FROM e WHERE vec_id >= 18),
         ac AS (
           SELECT corp.vec_id, c_id,
                  list_sum(list_transform(range(1, len(ev) + 1),
                       i -> ev[i]::DOUBLE * cv[i]::DOUBLE)) / (en * cn) AS cos
           FROM corp CROSS JOIN c),
         asg AS (
           SELECT vec_id, cell FROM (
             SELECT vec_id, c_id AS cell,
                    row_number() OVER (PARTITION BY vec_id ORDER BY floor((cos) * 1e6 + 0.5) / 1e6 DESC, c_id) AS rn
             FROM ac) r
           WHERE rn = 1),
         pc AS (
           SELECT q_id, c_id,
                  list_sum(list_transform(range(1, len(qv) + 1),
                       i -> qv[i]::DOUBLE * cv[i]::DOUBLE)) / (qn * cn) AS cos
           FROM q CROSS JOIN c),
         probe AS (
           SELECT q_id, cell FROM (
             SELECT q_id, c_id AS cell,
                    row_number() OVER (PARTITION BY q_id ORDER BY floor((cos) * 1e6 + 0.5) / 1e6 DESC, c_id) AS rn
             FROM pc) r
           WHERE rn <= 2),
         cand AS (
           SELECT p.q_id, corp.vec_id,
                  list_sum(list_transform(range(1, len(q.qv) + 1),
                       i -> q.qv[i]::DOUBLE * corp.ev[i]::DOUBLE)) / (q.qn * corp.en) AS cos
           FROM probe p
           JOIN asg a ON a.cell = p.cell
           JOIN corp ON corp.vec_id = a.vec_id
           JOIN q ON q.q_id = p.q_id
           WHERE corp.vec_id <> p.q_id),
         ivf AS (SELECT q_id, vec_id FROM (
                   SELECT q_id, vec_id,
                          row_number() OVER (PARTITION BY q_id ORDER BY floor((cos) * 1e6 + 0.5) / 1e6 DESC, vec_id) AS rank
                   FROM cand) r
                 WHERE rank <= 5),
         bf AS (SELECT q_id, vec_id FROM (
                  SELECT q.q_id, corp.vec_id,
                         row_number() OVER (PARTITION BY q.q_id
                                            ORDER BY floor((list_sum(list_transform(range(1, len(q.qv) + 1),
                                                 i -> q.qv[i]::DOUBLE * corp.ev[i]::DOUBLE)) / (q.qn * corp.en)) * 1e6 + 0.5) / 1e6 DESC,
                                                     corp.vec_id) AS rank
                  FROM q CROSS JOIN corp) b
                WHERE rank <= 5),
         h AS (SELECT ivf.q_id, count(*) AS hits
               FROM ivf JOIN bf ON bf.q_id = ivf.q_id AND bf.vec_id = ivf.vec_id
               GROUP BY 1)
         SELECT q.q_id, coalesce(hits, 0) AS hits,
                floor((coalesce(hits, 0)::DOUBLE / 5) * 1e4 + 0.5) / 1e4 AS recall_r
         FROM q LEFT JOIN h ON h.q_id = q.q_id
         ORDER BY q.q_id"""),

    // -- Matryoshka truncation eval: recall@10 of prefix-dim search
    //    (8/16/32/64, re-normalized) vs full-dim truth — how small an
    //    index dimension still retrieves what the full vectors would;
    //    truth computed once (checkpointed), every search the bounded
    //    partial top-k, one row per dim
    QueryDef("q_mrl_recall", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.mrlRecallEval(
        emb.where(col("vec_id") >= 10),
        emb.where(col("vec_id") < 10),
        dims = Seq(8, 16, 32, 64), k = 10)
        .orderBy("dim")
    },
      mrlSql(Seq(8, 16, 32, 64), k = 10)),

    // -- IVF-PQ ADC search: queries probe their 2 max-cosine cells, then
    //    score members by SUMMED SUBSPACE TABLE DISTANCES over the PQ codes
    //    (the compressed-domain scan pqEncode's codes exist for); distances
    //    quantized to 1e-6 integers BEFORE the sum, so scores are exact
    //    bigint arithmetic in both engines
    QueryDef("q_ann_ivfpq_search", (s, dir) => {
      val emb   = t(s, dir, "embeddings")
      val cents = emb.where(col("vec_id") < 8)
      val codebooks = (0 until 4)
        .map(sub => cents.select(
          lit(sub).as("sub"),
          col("vec_id").as("code_id"),
          slice(col("embedding"), sub * 16 + 1, 16).as("cw")))
        .reduce(_ unionAll _)
      Similarity
        .ivfpqSearch(
          emb.where(col("vec_id") >= 18),
          cents,
          codebooks,
          emb.where(col("vec_id").between(8, 17)),
          k = 5, nprobe = 2, m = 4, subDim = 16)
        .orderBy("q_id", "rank")
    },
      // IVF-PQ ADC mirror: same cell routing + probing CTEs as ivf_search,
      // same L2-argmin code assignment as pq_encode, then the per-query
      // subspace distance table quantized to 1e-6 BIGINTs before the sum —
      // candidate scores are exact integer arithmetic in both engines.
      // Shared with q_ann_ivfpq_indexed: serving from the materialized index
      // is plan-level, not semantic — results are identical by construction
      IvfpqAdcSql),

    // -- the same ADC search served from a PREBUILT, MATERIALIZED index
    //    relation (build-once/query-many): query time touches only the
    //    compressed codes + the tiny centroid/codebook tables — the corpus
    //    vectors are not an input; shares q_ann_ivfpq_search's oracle
    QueryDef("q_ann_ivfpq_indexed", (s, dir) => {
      val emb   = t(s, dir, "embeddings")
      val cents = emb.where(col("vec_id") < 8)
      val codebooks = (0 until 4)
        .map(sub => cents.select(
          lit(sub).as("sub"),
          col("vec_id").as("code_id"),
          slice(col("embedding"), sub * 16 + 1, 16).as("cw")))
        .reduce(_ unionAll _)
      val index = Similarity
        .ivfpqIndex(emb.where(col("vec_id") >= 18), cents, codebooks, m = 4, subDim = 16)
        .pin() // stands in for the persisted index table
      Similarity
        .ivfpqSearchIndexed(
          index, cents, codebooks,
          emb.where(col("vec_id").between(8, 17)),
          k = 5, nprobe = 2, m = 4, subDim = 16)
        .orderBy("q_id", "rank")
    },
      IvfpqAdcSql),

    // -- rollup (grouping sets) over lineitem
    QueryDef("q_rollup", (s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("sum_qty"),
          col("n"))
        .orderBy("rf", "ls")
    },
      """SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
                floor((sum(l_quantity)) * 1e2 + 0.5) / 1e2 AS sum_qty, count(*) AS n
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus) ORDER BY rf, ls"""),

    // -- cube: all grouping-set combinations
    QueryDef("q_cube", (s, dir) => {
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(round(sum(col("o_totalprice")), 2).as("total"), count(lit(1)).as("n"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("prio"),
          col("total"),
          col("n"))
        .orderBy("status", "prio")
    },
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
                coalesce(o_orderpriority, 'ALL') AS prio,
                floor((sum(o_totalprice)) * 1e2 + 0.5) / 1e2 AS total, count(*) AS n
         FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority) ORDER BY status, prio"""),

    // -- array functions over postings: array_contains / element_at / slice
    QueryDef("q_array_ops", (s, dir) => {
      InvertedIndex
        .postings(Tokenize.tokens(t(s, dir, "documents"), "text", Seq("doc_id")))
        .where(array_contains(col("doc_ids"), 7))
        .select(
          col("word"),
          col("df"),
          element_at(col("doc_ids"), 1).as("first_id"),
          element_at(col("doc_ids"), -1).as("last_id"),
          array_join(slice(col("doc_ids"), 1, 3), " ").as("head3"))
        .orderBy("word")
    },
      s"""WITH $TokCte,
          p AS (SELECT word, list_sort(list(DISTINCT doc_id)) AS doc_ids,
                       count(DISTINCT doc_id) AS df
                FROM tok GROUP BY word)
          SELECT word, df, doc_ids[1] AS first_id, doc_ids[-1] AS last_id,
                 array_to_string(list_slice(doc_ids, 1, 3), ' ') AS head3
          FROM p WHERE list_contains(doc_ids, 7) ORDER BY word"""),

    // -- date & math scalar functions over orders
    QueryDef("q_date_math", (s, dir) => {
      t(s, dir, "orders")
        .where(col("o_orderkey") < 2000)
        .select(
          col("o_orderkey"),
          year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"),
          dayofmonth(col("o_orderdate")).as("d"),
          round(sqrt(col("o_totalprice")), 4).as("sqrt_price"),
          round(abs(col("o_totalprice") - 250000.0), 2).as("dist_mid"),
          floor(col("o_totalprice") / 10000).cast("long").as("price_bucket"),
          round(log(10.0, col("o_totalprice")), 4).as("log10_price"))
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey,
                year(o_orderdate) AS y, month(o_orderdate) AS m, day(o_orderdate) AS d,
                floor((sqrt(o_totalprice)) * 1e4 + 0.5) / 1e4 AS sqrt_price,
                floor((abs(o_totalprice - 250000.0)) * 1e2 + 0.5) / 1e2 AS dist_mid,
                floor(o_totalprice / 10000)::BIGINT AS price_bucket,
                floor((log10(o_totalprice)) * 1e4 + 0.5) / 1e4 AS log10_price
         FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey"""),

    // ================================================== event-stream surface

    // -- tumbling 1-hour windowed aggregation (batch form; the streaming
    //    twin with watermarks lives in graft.streaming.EventStream)
    QueryDef("q_events_window", (s, dir) => {
      graft.sources.EventsSource
        .events(s, dir)
        .groupBy(
          date_format(col("ts_t"), "yyyy-MM-dd HH").as("hour_bucket"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .orderBy("hour_bucket", "event_type")
    },
      """SELECT strftime(ts, '%Y-%m-%d %H') AS hour_bucket, event_type,
                count(*) AS n, floor((sum(value)) * 1e2 + 0.5) / 1e2 AS sum_value
         FROM events GROUP BY hour_bucket, event_type ORDER BY hour_bucket, event_type"""),

    // -- value-checked roundtrip for all three modalities: image rows are
    //    REAL synthesized PNGs, audio rows REAL WAVs, video rows REAL
    //    animated GIFs — each decoded back through its JDK codec; the
    //    oracle recomputes the synthesis formulas from the documents table
    //    (n_bytes excluded: payload size is encoder-internal)
    QueryDef("q_multimodal_decode", (s, dir) => {
      operators.Multimodal
        .decode(operators.Multimodal.demoMediaFromDocuments(s, dir))
        .toDF()
        .select(col("media_id"), col("kind"), col("width"), col("height"), col("duration_ms"))
        .orderBy("media_id")
    },
      // the multimodal roundtrip: image dims come from DECODING synthesized
      // PNGs (javax.imageio), audio durations from DECODING synthesized WAVs
      // (javax.sound.sampled; frames = 1 + 131·len mod 60000 at 1 kHz ⇒
      // duration_ms == frames), and video dims/durations from DECODING
      // synthesized animated GIFs (javax.imageio frame metadata; frames =
      // 1 + 131·len mod 24 at 100 ms/frame ⇒ duration_ms == 100·frames) —
      // the oracle recomputes the synthesis formulas directly, so a fake
      // decode cannot pass
      """SELECT doc_id AS media_id,
                CASE WHEN doc_id % 3 = 0 THEN 'image'
                     WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
                (CASE WHEN doc_id % 3 = 0 THEN 1 + doc_id % 64
                      WHEN doc_id % 3 = 1 THEN 0
                      ELSE 1 + doc_id % 32 END)::INTEGER AS width,
                (CASE WHEN doc_id % 3 = 0 THEN 1 + octet_length(encode(text)) % 64
                      WHEN doc_id % 3 = 1 THEN 0
                      ELSE 1 + octet_length(encode(text)) % 32 END)::INTEGER AS height,
                (CASE WHEN doc_id % 3 = 0 THEN 0
                      WHEN doc_id % 3 = 1 THEN 1 + (octet_length(encode(text))::BIGINT * 131) % 60000
                      ELSE (1 + (octet_length(encode(text))::BIGINT * 131) % 24) * 100 END)::BIGINT AS duration_ms
         FROM documents ORDER BY media_id"""),

    // -- REAL image resize roundtrip: synthesize -> halve via Graphics2D ->
    //    PNG re-encode -> DECODE the output; the oracle recomputes
    //    ceil(w/2) x ceil(h/2) from the synthesis formulas, so a fake
    //    resize (or a fake decode) cannot pass
    QueryDef("q_multimodal_resize", (s, dir) => {
      operators.Multimodal
        .decode(operators.Multimodal.resizeImages(
          operators.Multimodal.demoMediaFromDocuments(s, dir).filter(_.kind == "image")))
        .toDF()
        .select(col("media_id"), col("width"), col("height"))
        .orderBy("media_id")
    },
      // resize mirror: the synthesized PNG is ceil-halved, so decoded output
      // dims must equal ceil((1 + id mod 64)/2) x ceil((1 + len mod 64)/2)
      // (// is DuckDB integer division; (w+1)//2 == ceil(w/2))
      """SELECT doc_id AS media_id,
                ((1 + doc_id % 64 + 1) // 2)::INTEGER AS width,
                ((1 + octet_length(encode(text)) % 64 + 1) // 2)::INTEGER AS height
         FROM documents WHERE doc_id % 3 = 0 ORDER BY media_id"""),

    // -- REAL audio downsampling: 16-bit PCM decimated 4x and re-encoded
    //    WAV at rate/4, then DECODED back; duration is preserved, so the
    //    oracle recomputes ceil(frames/4)*4 ms from the synthesis formula
    QueryDef("q_multimodal_audio_ds", (s, dir) => {
      // r21 (guide §2.4): the global sort's range sampling executes its
      // child once for the sample and again for the real shuffle — here the
      // child is the full synth→decimate→re-encode→decode codec chain (the
      // query's entire cost; profiled ~22 s of executor time PER execution
      // at sf0.1). Materialize the two metadata columns once so the codec
      // chain runs exactly once and the sort samples the tiny checkpoint.
      operators.Multimodal
        .decode(operators.Multimodal.downsampleAudio(
          operators.Multimodal.demoMediaFromDocuments(s, dir).filter(_.kind == "audio"),
          factor = 4))
        .toDF()
        .select(col("media_id"), col("duration_ms"))
        .pin()
        .orderBy("media_id")
    },
      // audio-downsample mirror: frames' = ceil(frames/4) at 250 Hz, and
      // duration_ms = frames' * 1000 / 250 = frames' * 4 (exact integers)
      """SELECT doc_id AS media_id,
                (((1 + (octet_length(encode(text))::BIGINT * 131) % 60000) + 3) // 4) * 4 AS duration_ms
         FROM documents WHERE doc_id % 3 = 1 ORDER BY media_id"""),

    // -- perceptual image hash over REAL decoded pixels: 9x8 nearest-
    //    sample luminance grid, horizontal-gradient bits — integer-exact,
    //    so the oracle recomputes the hash from the synthesis formula
    //    through the full PNG encode->distribute->decode roundtrip
    QueryDef("q_image_dhash", (s, dir) => {
      operators.Multimodal
        .imageDHash(operators.Multimodal.demoMediaFromDocuments(s, dir))
        .orderBy("media_id")
    },
      // the synthesized pixel at (x, y) is ((x*31 + y*17 + doc_id) mod 2^24);
      // the oracle replays the 9x8 nearest-sample grid + integer gray +
      // gradient bits that imageDHash computes from the DECODED pixels
      s"""WITH $ImageDhashCtes
          SELECT media_id, dhash_hi, dhash_lo FROM dh ORDER BY media_id"""),

    // -- perceptual near-dup image PAIRS: dHash + 4×16-bit pigeonhole
    //    banding (EXACT for hamming <= 3), cap before in-bucket expansion,
    //    two-limb bit_count on candidates only — simhashPairs' discipline
    //    at the image modality
    QueryDef("q_image_near_dup", (s, dir) => {
      operators.Multimodal
        .imageNearDupPairs(operators.Multimodal.demoMediaFromDocuments(s, dir))
        .orderBy("id1", "id2")
    },
      s"""WITH $ImageDhashCtes,
          sl AS (SELECT media_id, dhash_hi, dhash_lo, band,
                        CASE band WHEN 0 THEN dhash_lo % 65536
                                  WHEN 1 THEN dhash_lo // 65536
                                  WHEN 2 THEN dhash_hi % 65536
                                  ELSE dhash_hi // 65536 END AS v
                 FROM dh CROSS JOIN (SELECT unnest(range(4)) AS band) bb),
          keep AS (SELECT band, v FROM sl GROUP BY band, v
                   HAVING count(*) BETWEEN 2 AND 4096)
          SELECT DISTINCT a.media_id AS id1, b2.media_id AS id2,
                 (bit_count(xor(a.dhash_hi, b2.dhash_hi))
                  + bit_count(xor(a.dhash_lo, b2.dhash_lo)))::INTEGER AS hamming
          FROM sl a
          JOIN sl b2 ON a.band = b2.band AND a.v = b2.v AND a.media_id < b2.media_id
          JOIN keep k ON k.band = a.band AND k.v = a.v
          WHERE (bit_count(xor(a.dhash_hi, b2.dhash_hi))
                 + bit_count(xor(a.dhash_lo, b2.dhash_lo))) <= 3
          ORDER BY id1, id2"""),

    // -- 64-bit acoustic fingerprint over REAL decoded PCM: 65 energy
    //    windows, sign-of-delta bits — integer-exact, the oracle replays
    //    the waveform formula through the WAV roundtrip
    QueryDef("q_audio_fingerprint", (s, dir) => {
      operators.Multimodal
        .audioFingerprint(operators.Multimodal.demoAudioPattern(s, dir))
        .orderBy("media_id")
    },
      // replay of Multimodal.synthWavPattern + audioFingerprint: formula
      // samples -> 65 window energies -> sign-of-delta bits as two halves
      """WITH aud AS (
           SELECT doc_id, 65 + (octet_length(encode(text)) * 131) % 60000 AS n
           FROM documents WHERE doc_id % 3 = 1),
         sm AS (
           SELECT doc_id, (i * 65) // n AS w,
                  abs(((i * 131 + doc_id * 17) % 65536) - 32768) AS a
           FROM (SELECT doc_id, n, unnest(range(n)) AS i FROM aud) u),
         e AS (SELECT doc_id, w, sum(a)::BIGINT AS en FROM sm GROUP BY 1, 2),
         b AS (SELECT doc_id, w, en,
                      lead(en) OVER (PARTITION BY doc_id ORDER BY w) AS nxt
               FROM e),
         fp AS (
           SELECT doc_id AS media_id,
                  sum(CASE WHEN w BETWEEN 32 AND 63 AND nxt > en
                           THEN (1::BIGINT << (w - 32)) ELSE 0 END)::BIGINT AS afp_hi,
                  sum(CASE WHEN w < 32 AND nxt > en
                           THEN (1::BIGINT << w) ELSE 0 END)::BIGINT AS afp_lo
           FROM b GROUP BY 1)
         SELECT media_id, afp_hi, afp_lo FROM fp ORDER BY media_id"""),

    // -- video near-dup pairs: every 4th frame dHashed through the REAL
    //    GIF->PNG codec chain, videos paired on >= 2 shared distinct frame
    //    hashes — imageNearDupPairs' bucket discipline at the video level
    QueryDef("q_video_near_dup", (s, dir) => {
      operators.Multimodal
        .videoNearDupPairs(operators.Multimodal.demoMediaFromDocuments(s, dir))
        .orderBy("vid1", "vid2")
    },
      // GIF frame replay: palette is the identity gray ramp and pixel index i
      // of frame f is (i*31 + f*101 + doc_id) & 255, so each sampled frame's
      // dHash recomputes exactly from the synthesis formula
      """WITH vid AS (
           SELECT doc_id, 1 + doc_id % 32 AS w,
                  1 + octet_length(encode(text)) % 32 AS h,
                  1 + (octet_length(encode(text)) * 131) % 24 AS nf
           FROM documents WHERE doc_id % 3 = 2),
         fr AS (SELECT doc_id, w, h, unnest(range(0, nf, 4)) AS f FROM vid),
         g AS (
           SELECT doc_id, f, j, i,
                  ((least(w - 1, (i * w) // 9) + least(h - 1, (j * h) // 8) * w) * 31
                   + f * 101 + doc_id) % 256 AS gray
           FROM fr
           CROSS JOIN (SELECT unnest(range(9)) AS i)
           CROSS JOIN (SELECT unnest(range(8)) AS j)),
         b AS (
           SELECT doc_id, f, j, i, gray,
                  lead(gray) OVER (PARTITION BY doc_id, f, j ORDER BY i) AS nxt
           FROM g),
         dh AS (
           SELECT doc_id AS vid, f,
                  sum(CASE WHEN i < 8 AND j >= 4 AND nxt > gray
                           THEN (1::BIGINT << (j * 8 + i - 32)) ELSE 0 END)::BIGINT AS hi,
                  sum(CASE WHEN i < 8 AND j < 4 AND nxt > gray
                           THEN (1::BIGINT << (j * 8 + i)) ELSE 0 END)::BIGINT AS lo
           FROM b GROUP BY 1, 2),
         fh AS (SELECT DISTINCT vid, hi, lo FROM dh),
         keep AS (SELECT hi, lo FROM fh GROUP BY hi, lo
                  HAVING count(*) BETWEEN 2 AND 4096),
         p AS (
           SELECT a.vid AS vid1, b2.vid AS vid2, count(*) AS shared_frames
           FROM fh a
           JOIN fh b2 ON a.hi = b2.hi AND a.lo = b2.lo AND a.vid < b2.vid
           JOIN keep k ON k.hi = a.hi AND k.lo = a.lo
           GROUP BY 1, 2)
         SELECT vid1, vid2, shared_frames FROM p
         WHERE shared_frames >= 2 ORDER BY vid1, vid2"""),

    // -- perceptual duplicate image GROUPS: the near-dup pairs closed into
    //    connected components (duplicateGroups' label propagation over the
    //    dHash pigeonhole pairs) — the keep-one-per-cluster input
    QueryDef("q_image_dup_groups", (s, dir) => {
      Dedup
        .duplicateGroups(
          operators.Multimodal.imageNearDupPairs(
            operators.Multimodal.demoMediaFromDocuments(s, dir)),
          "id1", "id2")
        .orderBy("doc_id")
    },
      s"""WITH RECURSIVE $ImageDhashCtes,
          sl AS (SELECT media_id, dhash_hi, dhash_lo, band,
                        CASE band WHEN 0 THEN dhash_lo % 65536
                                  WHEN 1 THEN dhash_lo // 65536
                                  WHEN 2 THEN dhash_hi % 65536
                                  ELSE dhash_hi // 65536 END AS v
                 FROM dh CROSS JOIN (SELECT unnest(range(4)) AS band) bb),
          keep AS (SELECT band, v FROM sl GROUP BY band, v
                   HAVING count(*) BETWEEN 2 AND 4096),
          pairs AS (
            SELECT DISTINCT a.media_id AS id1, b2.media_id AS id2
            FROM sl a
            JOIN sl b2 ON a.band = b2.band AND a.v = b2.v AND a.media_id < b2.media_id
            JOIN keep k ON k.band = a.band AND k.v = a.v
            WHERE (bit_count(xor(a.dhash_hi, b2.dhash_hi))
                   + bit_count(xor(a.dhash_lo, b2.dhash_lo))) <= 3),
          edges AS (SELECT id1 AS src, id2 AS dst FROM pairs
                    UNION ALL SELECT id2, id1 FROM pairs),
          reach(v, lbl) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.v = e.dst)
          SELECT v AS doc_id, min(lbl) AS group_id
          FROM reach GROUP BY v ORDER BY doc_id""",
      Some(Iteration(
        "early-exit: same observe()-fixpoint cc loop as " +
          "q_dedup_groups over dHash pairs",
        (s, dir) =>
          Dedup.ccRoundPlan(
            graft.operators.Multimodal.imageNearDupPairs(
              graft.operators.Multimodal.demoMediaFromDocuments(s, dir)),
            "id1", "id2")))),

    // -- acoustic near-dup pairs: the audio fingerprint through the exact
    //    4x16-bit pigeonhole banding (hamming <= 3), cap before expansion
    QueryDef("q_audio_near_dup", (s, dir) => {
      operators.Multimodal
        .audioNearDupPairs(operators.Multimodal.demoAudioPattern(s, dir))
        .orderBy("id1", "id2")
    },
      """WITH aud AS (
           SELECT doc_id, 65 + (octet_length(encode(text)) * 131) % 60000 AS n
           FROM documents WHERE doc_id % 3 = 1),
         sm AS (
           SELECT doc_id, (i * 65) // n AS w,
                  abs(((i * 131 + doc_id * 17) % 65536) - 32768) AS a
           FROM (SELECT doc_id, n, unnest(range(n)) AS i FROM aud) u),
         e AS (SELECT doc_id, w, sum(a)::BIGINT AS en FROM sm GROUP BY 1, 2),
         b AS (SELECT doc_id, w, en,
                      lead(en) OVER (PARTITION BY doc_id ORDER BY w) AS nxt
               FROM e),
         fp AS (
           SELECT doc_id AS media_id,
                  sum(CASE WHEN w BETWEEN 32 AND 63 AND nxt > en
                           THEN (1::BIGINT << (w - 32)) ELSE 0 END)::BIGINT AS hi,
                  sum(CASE WHEN w < 32 AND nxt > en
                           THEN (1::BIGINT << w) ELSE 0 END)::BIGINT AS lo
           FROM b GROUP BY 1),
         sl AS (SELECT media_id, hi, lo, band,
                       CASE band WHEN 0 THEN lo % 65536
                                 WHEN 1 THEN lo // 65536
                                 WHEN 2 THEN hi % 65536
                                 ELSE hi // 65536 END AS v
                FROM fp CROSS JOIN (SELECT unnest(range(4)) AS band) bb),
         keep AS (SELECT band, v FROM sl GROUP BY band, v
                  HAVING count(*) BETWEEN 2 AND 4096)
         SELECT DISTINCT a.media_id AS id1, b2.media_id AS id2,
                (bit_count(xor(a.hi, b2.hi)) + bit_count(xor(a.lo, b2.lo)))::INTEGER AS hamming
         FROM sl a
         JOIN sl b2 ON a.band = b2.band AND a.v = b2.v AND a.media_id < b2.media_id
         JOIN keep k ON k.band = a.band AND k.v = a.v
         WHERE (bit_count(xor(a.hi, b2.hi)) + bit_count(xor(a.lo, b2.lo))) <= 3
         ORDER BY id1, id2"""),

    // -- per-image luminance stats over real decoded pixels: 16-bin
    //    histogram, mean, RMS contrast, histogram entropy — the
    //    flat/low-contrast image-quality gate. The histogram surfaces as a
    //    canonical space-joined string (scalar column) so the driver's
    //    pandas-based hash compare can sort it — array cells are
    //    unhashable there; the array form stays spec-checked in
    //    MultimodalSpec.
    QueryDef("q_image_stats", (s, dir) => {
      operators.Multimodal
        .imageStats(operators.Multimodal.demoMediaFromDocuments(s, dir))
        .withColumn("hist_str",
          array_join(transform(col("hist"), h => h.cast("string")), " "))
        .drop("hist")
        .orderBy("media_id")
    },
      // full-pixel synthesis-formula replay: integer BT.601 gray, 16-bin
      // spine, rounded-term integer entropy fold (mirror of
      // Multimodal.imageStats)
      """WITH img AS (SELECT doc_id, 1 + doc_id % 64 AS w,
                             1 + octet_length(encode(text)) % 64 AS h
                      FROM documents WHERE doc_id % 3 = 0),
         px AS (SELECT doc_id, w, unnest(range(w * h)) AS p FROM img),
         g AS (SELECT doc_id,
                      (299 * ((v // 65536) % 256) + 587 * ((v // 256) % 256)
                       + 114 * (v % 256)) // 1000 AS gray
               FROM (SELECT doc_id,
                            ((p % w) * 31 + (p // w) * 17 + doc_id) % 16777216 AS v
                     FROM px) q),
         agg AS (SELECT doc_id, count(*)::BIGINT AS n_px,
                        sum(gray)::BIGINT AS sg, sum(gray::BIGINT * gray)::BIGINT AS sgg
                 FROM g GROUP BY 1),
         bc AS (SELECT doc_id, gray // 16 AS bin, count(*)::BIGINT AS c
                FROM g GROUP BY 1, 2),
         spine AS (SELECT doc_id, unnest(range(16)) AS bin FROM img),
         hb AS (SELECT spine.doc_id, spine.bin, coalesce(bc.c, 0)::BIGINT AS c
                FROM spine LEFT JOIN bc ON bc.doc_id = spine.doc_id AND bc.bin = spine.bin),
         hist AS (SELECT hb.doc_id, list(c ORDER BY bin) AS hist,
                         sum(CASE WHEN c > 0
                                  THEN floor((-(c::DOUBLE / n_px) * ln(c::DOUBLE / n_px))
                                             * 1e6 + 0.5)::BIGINT
                                  ELSE 0 END)::BIGINT AS se
                  FROM hb JOIN agg USING (doc_id) GROUP BY hb.doc_id)
         SELECT agg.doc_id AS media_id, n_px,
                floor((sg::DOUBLE / n_px::DOUBLE) * 1e4 + 0.5) / 1e4 AS mean_r,
                floor(sqrt(sgg::DOUBLE / n_px::DOUBLE
                           - (sg::DOUBLE / n_px::DOUBLE) * (sg::DOUBLE / n_px::DOUBLE))
                      * 1e4 + 0.5) / 1e4 AS contrast_r,
                floor((se::DOUBLE / 1e6) * 1e6 + 0.5) / 1e6 AS entropy_r,
                array_to_string(hist.hist, ' ') AS hist_str
         FROM agg JOIN hist USING (doc_id) ORDER BY media_id"""),

    // -- Yule's K per source: frequency-of-frequencies second moment —
    //    length-invariant vocabulary repetitiveness + hapax share
    QueryDef("q_yules_k", (s, dir) =>
      operators.Stats
        .yulesK(operators.Tokenize.tokens(t(s, dir, "documents"), "text", Seq("source")),
          "source")
        .orderBy("source"),
      // (source, word) count profile: K from exact integer sums, hapax =
      // fof_1 (mirror of Stats.yulesK)
      """WITH tok AS (
           SELECT source, w AS word FROM (
             SELECT source,
                    regexp_replace(lower(unnest(regexp_split_to_array(text, '\s+'))),
                                   '[^a-z]', '', 'g') AS w
             FROM documents) u
           WHERE w <> ''),
         cnt AS (SELECT source, word, count(*)::BIGINT AS f FROM tok GROUP BY 1, 2)
         SELECT source, sum(f)::BIGINT AS n_tokens, count(*)::BIGINT AS n_types,
                sum((f = 1)::INT)::BIGINT AS hapax,
                floor((1e4 * (sum(f::HUGEINT * f)::DOUBLE - sum(f)::DOUBLE)
                       / (sum(f)::DOUBLE * sum(f)::DOUBLE)) * 1e6 + 0.5) / 1e6 AS yules_k_r
         FROM cnt GROUP BY source ORDER BY source"""),

    // -- Neyman allocation: split a 1000-row sample budget across
    //    languages proportional to N_h·S_h of doc length — volatile
    //    strata get the budget, near-constant ones almost none; largest-
    //    remainder integerization so the allocations sum to the budget
    QueryDef("q_neyman_alloc", (s, dir) =>
      operators.Sampling
        .neymanAllocation(t(s, dir, "documents"), "lang", "n_chars", budget = 1000L)
        .orderBy("lang"),
      // exact-sum sample sd per stratum, 1e6-scaled integer weights, the
      // temperatureMixture largest-remainder rule (mirror of
      // Sampling.neymanAllocation)
      """WITH per AS (SELECT lang AS g, count(*)::BIGINT AS n_rows,
                             sum(n_chars)::HUGEINT AS s1,
                             sum(n_chars::HUGEINT * n_chars) AS s2
                      FROM documents
                      WHERE lang IS NOT NULL AND n_chars IS NOT NULL GROUP BY 1),
         sdv AS (SELECT g, n_rows,
                        CASE WHEN n_rows >= 2
                             THEN sqrt(greatest(0.0,
                                    (s2::DOUBLE - s1::DOUBLE * s1::DOUBLE / n_rows::DOUBLE)
                                    / (n_rows::DOUBLE - 1.0)))
                             ELSE 0.0 END AS sd
                 FROM per),
         w6 AS (SELECT g, n_rows, sd,
                       floor(n_rows::DOUBLE * sd * 1e6 + 0.5)::BIGINT AS w6
                FROM sdv),
         tw AS (SELECT sum(w6)::BIGINT AS tw6, sum(n_rows)::BIGINT AS tn FROM w6),
         sc AS (SELECT g, n_rows, sd,
                       CASE WHEN tw6 > 0 THEN w6::DOUBLE / tw6::DOUBLE
                            ELSE n_rows::DOUBLE / tn::DOUBLE END AS share
                FROM w6 CROSS JOIN tw),
         sc2 AS (SELECT *, floor((share * 1000) * 1e6 + 0.5) / 1e6 AS ideal FROM sc),
         sc3 AS (SELECT *, floor(ideal) AS base, ideal - floor(ideal) AS fr FROM sc2),
         rm AS (SELECT (1000 - sum(base))::BIGINT AS rem FROM sc3),
         rk AS (SELECT *, row_number() OVER (ORDER BY fr DESC, g) AS rnk
                FROM sc3 CROSS JOIN rm)
         SELECT g AS lang, n_rows,
                floor(sd * 1e4 + 0.5) / 1e4 AS sd_r,
                floor(share * 1e6 + 0.5) / 1e6 AS share_r,
                ideal AS ideal_r,
                (base + CASE WHEN rnk <= rem THEN 1 ELSE 0 END)::BIGINT AS alloc
         FROM rk ORDER BY lang"""),

    // -- Burrows' Delta between every source pair: mean |Δz| of top-30
    //    function-word frequencies — HOW a source is written (style),
    //    where q_source_jsd sees WHAT it talks about (topic)
    QueryDef("q_burrows_delta", (s, dir) =>
      graft.functions.TextAnalysis
        .burrowsDelta(operators.Tokenize.tokens(t(s, dir, "documents"), "text", Seq("source")),
          "source", topM = 30)
        .orderBy("s1", "s2"),
      // 1e6-scaled relative frequencies, exact integer moment sums per
      // word, zero-variance cut BEFORE sqrt, rounded z, integer |dz| sums
      // (mirror of TextAnalysis.burrowsDelta)
      """WITH tok AS (
           SELECT source, w AS word FROM (
             SELECT source,
                    regexp_replace(lower(unnest(regexp_split_to_array(text, '\s+'))),
                                   '[^a-z]', '', 'g') AS w
             FROM documents) u
           WHERE w <> ''),
         cnt AS (SELECT source, word, count(*)::BIGINT AS a FROM tok GROUP BY 1, 2),
         topw AS (SELECT word FROM (
                    SELECT word, sum(a) AS n FROM cnt GROUP BY word
                    ORDER BY n DESC, word LIMIT 30) z),
         st AS (SELECT source, sum(a)::BIGINT AS n1 FROM cnt GROUP BY 1),
         f6 AS (SELECT st.source, topw.word,
                       floor(coalesce(cnt.a, 0)::DOUBLE / st.n1::DOUBLE * 1e6 + 0.5)::BIGINT
                         AS f6
                FROM st CROSS JOIN topw
                LEFT JOIN cnt ON cnt.source = st.source AND cnt.word = topw.word),
         stats AS (SELECT word, mu6, sqrt(var6) AS sd6 FROM (
                     SELECT word,
                            s1::DOUBLE / ns::DOUBLE AS mu6,
                            s2::DOUBLE / ns::DOUBLE
                              - (s1::DOUBLE / ns::DOUBLE) * (s1::DOUBLE / ns::DOUBLE) AS var6
                     FROM (SELECT word, count(*)::BIGINT AS ns, sum(f6)::HUGEINT AS s1,
                                  sum(f6 * f6)::HUGEINT AS s2
                           FROM f6 GROUP BY word) q) w
                   WHERE var6 > 0.0),
         z AS (SELECT f6.source, f6.word,
                      floor(((f6.f6::DOUBLE - mu6) / sd6) * 1e6 + 0.5) / 1e6 AS z
               FROM f6 JOIN stats USING (word))
         SELECT a.source AS s1, b.source AS s2, count(*)::BIGINT AS n_words,
                floor((sum(floor(abs(a.z - b.z) * 1e6 + 0.5)::BIGINT)::HUGEINT::DOUBLE
                       / 1e6 / count(*)::DOUBLE) * 1e6 + 0.5) / 1e6 AS delta_r
         FROM z a JOIN z b ON a.word = b.word AND a.source < b.source
         GROUP BY a.source, b.source ORDER BY s1, s2"""),

    // -- video scene cuts: EVERY frame dHashed through the real GIF->PNG
    //    chain, a cut wherever consecutive frame hashes differ by >= 32
    //    bits — shot-boundary detection, clip-bounded lag windows
    QueryDef("q_video_scenes", (s, dir) => {
      operators.Multimodal
        .videoSceneCuts(operators.Multimodal.demoMediaFromDocuments(s, dir))
        .orderBy("media_id")
    },
      // stride-1 frame replay + per-clip lag over the formula dHashes; cut
      // at hamming >= 32 (mirror of Multimodal.videoSceneCuts)
      """WITH vid AS (
           SELECT doc_id, 1 + doc_id % 32 AS w,
                  1 + octet_length(encode(text)) % 32 AS h,
                  1 + (octet_length(encode(text)) * 131) % 24 AS nf
           FROM documents WHERE doc_id % 3 = 2),
         fr AS (SELECT doc_id, w, h, unnest(range(0, nf, 1)) AS f FROM vid),
         g AS (
           SELECT doc_id, f, j, i,
                  ((least(w - 1, (i * w) // 9) + least(h - 1, (j * h) // 8) * w) * 31
                   + f * 101 + doc_id) % 256 AS gray
           FROM fr
           CROSS JOIN (SELECT unnest(range(9)) AS i)
           CROSS JOIN (SELECT unnest(range(8)) AS j)),
         b AS (
           SELECT doc_id, f, j, i, gray,
                  lead(gray) OVER (PARTITION BY doc_id, f, j ORDER BY i) AS nxt
           FROM g),
         dh AS (
           SELECT doc_id AS vid, f,
                  sum(CASE WHEN i < 8 AND j >= 4 AND nxt > gray
                           THEN (1::BIGINT << (j * 8 + i - 32)) ELSE 0 END)::BIGINT AS hi,
                  sum(CASE WHEN i < 8 AND j < 4 AND nxt > gray
                           THEN (1::BIGINT << (j * 8 + i)) ELSE 0 END)::BIGINT AS lo
           FROM b GROUP BY 1, 2),
         lg AS (SELECT vid, f, hi, lo, lag(hi) OVER w AS ph, lag(lo) OVER w AS pl
                FROM dh WINDOW w AS (PARTITION BY vid ORDER BY f)),
         hd AS (SELECT vid, f,
                       CASE WHEN ph IS NULL THEN NULL
                            ELSE bit_count(xor(hi, ph)) + bit_count(xor(lo, pl)) END AS hd
                FROM lg)
         SELECT vid AS media_id, count(*)::BIGINT AS n_frames,
                sum(CASE WHEN hd >= 32 THEN 1 ELSE 0 END)::BIGINT AS n_cuts,
                (sum(CASE WHEN hd >= 32 THEN 1 ELSE 0 END) + 1)::BIGINT AS n_scenes,
                min(CASE WHEN hd >= 32 THEN f END)::BIGINT AS first_cut
         FROM hd GROUP BY vid ORDER BY media_id"""),

    // -- energy VAD over real decoded PCM: fixed 500-sample windows,
    //    active = integer cross-multiplied above-clip-mean energy,
    //    gaps-and-islands segments per clip
    QueryDef("q_audio_vad", (s, dir) => {
      operators.Multimodal
        .audioVad(operators.Multimodal.demoAudioPattern(s, dir))
        .orderBy("media_id")
    },
      // waveform-formula replay -> 500-sample window energies -> integer
      // cross-multiply activity -> gaps-and-islands segments per clip
      """WITH aud AS (
           SELECT doc_id, 65 + (octet_length(encode(text)) * 131) % 60000 AS n
           FROM documents WHERE doc_id % 3 = 1),
         sm AS (
           SELECT doc_id, i // 500 AS k,
                  abs(((i * 131 + doc_id * 17) % 65536) - 32768) AS a
           FROM (SELECT doc_id, n, unnest(range(n)) AS i FROM aud) u),
         w AS (SELECT doc_id, k, sum(a)::BIGINT AS en, count(*)::BIGINT AS len
               FROM sm GROUP BY 1, 2),
         t AS (SELECT doc_id, sum(en)::BIGINT AS tot, sum(len)::BIGINT AS n
               FROM w GROUP BY 1),
         fl AS (SELECT w.doc_id, k, (en * t.n > t.tot * len) AS act
                FROM w JOIN t USING (doc_id)),
         st AS (SELECT doc_id, k, act,
                       (act AND NOT coalesce(
                          lag(act) OVER (PARTITION BY doc_id ORDER BY k), false))::INT AS strt
                FROM fl),
         rn AS (SELECT doc_id, k, act, strt,
                       sum(strt) OVER (PARTITION BY doc_id ORDER BY k
                                       ROWS UNBOUNDED PRECEDING) AS run
                FROM st),
         seg AS (SELECT doc_id, CASE WHEN act THEN run END AS seg,
                        count(*)::BIGINT AS segn, bool_or(act) AS a
                 FROM rn GROUP BY doc_id, CASE WHEN act THEN run END)
         SELECT doc_id AS media_id, sum(segn)::BIGINT AS n_win,
                sum(CASE WHEN a THEN segn ELSE 0 END)::BIGINT AS n_active,
                sum(CASE WHEN a THEN 1 ELSE 0 END)::BIGINT AS n_segments,
                coalesce(max(CASE WHEN a THEN segn END), 0)::BIGINT AS max_run
         FROM seg GROUP BY doc_id ORDER BY media_id"""),

    // -- REAL video frame sampling: every 4th GIF frame extracted with the
    //    frame-addressable reader and re-encoded PNG; (width, height) are
    //    read off the decoded frame at extraction time (one decode per
    //    frame — r15 shipped a second full PNG decode per emitted frame
    //    here, the round's one weak component); the oracle unnests
    //    ceil(frames/4) rows per clip from the synthesis formulas
    QueryDef("q_multimodal_frames", (s, dir) => {
      operators.Multimodal
        .sampleFrames(
          operators.Multimodal.demoMediaFromDocuments(s, dir).filter(_.kind == "video"),
          stride = 4)
        .select("media_id", "frame_idx", "width", "height")
        .orderBy("media_id", "frame_idx")
    },
      // frame-sampling mirror: ceil(frames/4) rows per clip at original
      // frame indices 0,4,8,... — frames = 1 + 131*len mod 24 from the GIF
      // synthesis formula; each extracted frame decodes at the clip's dims
      """WITH p AS (
           SELECT doc_id, octet_length(encode(text)) AS len,
                  (1 + (octet_length(encode(text))::BIGINT * 131) % 24) AS frames
           FROM documents WHERE doc_id % 3 = 2),
         g AS (SELECT doc_id, len, unnest(range(0, (frames + 3) // 4)) AS u FROM p)
         SELECT doc_id AS media_id, (4 * u)::INTEGER AS frame_idx,
                (1 + doc_id % 32)::INTEGER AS width,
                (1 + len % 32)::INTEGER AS height
         FROM g ORDER BY media_id, frame_idx"""),

    // -- trending event types: hour-over-hour count lift per type, top-3
    //    lifts per hour — both windows over the (bucket, type) metadata
    //    relation, lift rounded before ranking
    QueryDef("q_trending", (s, dir) => {
      operators.TimeSeries
        .trending(graft.sources.EventsSource.events(s, dir), k = 3)
        .orderBy("bucket", "rn")
    },
      """WITH c AS (
           SELECT strftime(ts, '%Y-%m-%d %H') AS bucket, event_type, count(*) AS n
           FROM events GROUP BY 1, 2),
         l AS (
           SELECT bucket, event_type, n,
                  lag(n) OVER (PARTITION BY event_type ORDER BY bucket) AS prev_n
           FROM c),
         r AS (
           SELECT bucket, event_type, n, prev_n,
                  floor((n::DOUBLE / prev_n) * 1e4 + 0.5) / 1e4 AS lift_r
           FROM l WHERE prev_n IS NOT NULL),
         f AS (
           SELECT bucket, event_type, n, prev_n, lift_r,
                  row_number() OVER (PARTITION BY bucket
                                     ORDER BY lift_r DESC, event_type) AS rn
           FROM r QUALIFY rn <= 3)
         SELECT bucket, event_type, n, prev_n, lift_r, rn
         FROM f ORDER BY bucket, rn"""),

    // -- sliding windows: every event lands in four overlapping 1-hour
    //    windows on a 15-minute slide (the same groupBy streams with a
    //    watermark)
    QueryDef("q_events_sliding", (s, dir) => {
      graft.sources.EventsSource
        .events(s, dir)
        .groupBy(window(col("ts_t"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("win_start"),
          col("event_type"),
          col("n"))
        .orderBy("win_start", "event_type")
    },
      // every event expands to its four 15-min-grid window starts; epoch
      // arithmetic stays on naive timestamps (TIMESTAMP + interval), matching
      // Spark's epoch-aligned window() under the UTC session
      """WITH e AS (SELECT epoch_us(ts) // 1000000 AS sec, event_type FROM events),
          w AS (SELECT ((sec // 900) * 900 - off * 900) AS win_sec, event_type
                FROM e CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS off) o)
          SELECT strftime(TIMESTAMP '1970-01-01 00:00:00' + win_sec * INTERVAL '1 second',
                          '%Y-%m-%d %H:%M') AS win_start,
                 event_type, count(*) AS n
          FROM w GROUP BY win_start, event_type ORDER BY win_start, event_type"""),

    // -- JSON functions: extract a field from the events props payload and
    //    aggregate it (get_json_object stays codegen'd)
    QueryDef("q_json_props", (s, dir) => {
      graft.sources.EventsSource
        .events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"), round(avg(col("k")), 2).as("avg_k"))
        .orderBy("event_type")
    },
      """SELECT event_type, count(*) AS n,
                sum(json_extract(props, '$.k')::BIGINT)::BIGINT AS sum_k,
                floor((avg(json_extract(props, '$.k')::BIGINT)) * 1e2 + 0.5) / 1e2 AS avg_k
         FROM events GROUP BY event_type ORDER BY event_type"""),

    // -- pivot (crosstab): event counts per user bucket × event type with
    //    an explicit pivot column list (no extra distinct-values job)
    QueryDef("q_pivot", (s, dir) => {
      graft.sources.EventsSource
        .events(s, dir)
        .withColumn("bucket", col("user_id") % 10)
        .groupBy(col("bucket"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .count()
        .select(col("bucket"),
          coalesce(col("click"), lit(0L)).as("click"),
          coalesce(col("error"), lit(0L)).as("error"),
          coalesce(col("purchase"), lit(0L)).as("purchase"),
          coalesce(col("signup"), lit(0L)).as("signup"),
          coalesce(col("view"), lit(0L)).as("view"))
        .orderBy("bucket")
    },
      """SELECT user_id % 10 AS bucket,
                count(*) FILTER (WHERE event_type = 'click') AS click,
                count(*) FILTER (WHERE event_type = 'error') AS error,
                count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
                count(*) FILTER (WHERE event_type = 'signup') AS signup,
                count(*) FILTER (WHERE event_type = 'view') AS view
         FROM events GROUP BY bucket ORDER BY bucket"""),

    // -- exact interpolated percentiles per group (Spark `percentile` ==
    //    DuckDB `quantile_cont`; l_quantity is integer-valued so the
    //    interpolation arithmetic is engine-stable). exact=false is the
    //    percentile_approx scale path, spec-pinned in ApproxStatsSpec.
    QueryDef("q_percentiles", (s, dir) => {
      operators.Stats
        .groupPercentiles(t(s, dir, "lineitem"), "l_returnflag", "l_quantity")
        .orderBy("l_returnflag")
    },
      """SELECT l_returnflag,
                floor((quantile_cont(l_quantity, 0.5)) * 1e2 + 0.5) / 1e2 AS p50,
                floor((quantile_cont(l_quantity, 0.9)) * 1e2 + 0.5) / 1e2 AS p90,
                count(*) AS n
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),

    // -- range join with NO equality key: orders priced into overlapping
    //    price bands via range bucketization (an inequality-only join would
    //    plan as a nested loop; the bucketed form is a plain equi-join)
    QueryDef("q_range_join", (s, dir) => {
      val bands = s.range(0, 20).toDF("band_id")
        .withColumn("lo", col("band_id").cast("double") * 25000.0)
        .withColumn("hi", col("lo") + 40000.0)
      operators.RangeJoin
        .bucketedRangeJoin(
          t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")),
          bands, valueCol = "o_totalprice", loCol = "lo", hiCol = "hi",
          bucketWidth = 25000.0)
        .groupBy(col("band_id"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("sum_price"))
        .orderBy("band_id")
    },
      // the oracle joins on the raw inequality — the bucketized Spark plan
      // must produce exactly the rows the direct range predicate defines
      """WITH bands AS (
           SELECT band_id, band_id * 25000.0 AS lo, band_id * 25000.0 + 40000.0 AS hi
           FROM (SELECT unnest(range(0, 20)) AS band_id) b)
          SELECT band_id, count(*) AS n,
                 floor((sum(o_totalprice)) * 1e2 + 0.5) / 1e2 AS sum_price
          FROM orders JOIN bands
            ON o_totalprice >= lo AND o_totalprice < hi
          GROUP BY band_id ORDER BY band_id"""),

    // -- interval-OVERLAP join (span × span, per key): both sides
    //    bucketized into cells, each surviving pair claimed by exactly
    //    ONE cell (the overlap's start) — a plain equi-join where the
    //    direct inequality form nested-loops; intervals synthesized
    //    deterministically from orders so the oracle mirrors them
    QueryDef("q_interval_join", (s, dir) => {
      val o = t(s, dir, "orders")
      val a = o.where(col("o_orderkey") % 3 === 0)
        .select(
          col("o_orderkey").as("a_id"),
          (col("o_custkey") % 50).as("k"),
          ((col("o_orderkey") * 37) % 1000).cast("double").as("a_lo"))
        .withColumn("a_hi", col("a_lo") + lit(1.0) + (col("a_id") % 20).cast("double"))
      val b = o.where(col("o_orderkey") % 3 === 1)
        .select(
          col("o_orderkey").as("b_id"),
          (col("o_custkey") % 50).as("k"),
          ((col("o_orderkey") * 53) % 1000).cast("double").as("b_lo"))
        .withColumn("b_hi", col("b_lo") + lit(1.0) + (col("b_id") % 13).cast("double"))
      operators.RangeJoin
        .overlapJoin(a, b, Seq("k"), "a_lo", "a_hi", "b_lo", "b_hi", bucketWidth = 16.0)
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("a_id")).as("sum_a"), sum(col("b_id")).as("sum_b"))
        .orderBy("k")
    },
      // the oracle joins on the RAW overlap inequality — the bucketized
      // Spark plan must produce exactly the pairs the predicate defines
      """WITH a AS (
           SELECT o_orderkey AS a_id, o_custkey % 50 AS k,
                  ((o_orderkey * 37) % 1000)::DOUBLE AS a_lo,
                  ((o_orderkey * 37) % 1000)::DOUBLE + 1.0 + (o_orderkey % 20)::DOUBLE AS a_hi
           FROM orders WHERE o_orderkey % 3 = 0),
         b AS (
           SELECT o_orderkey AS b_id, o_custkey % 50 AS k,
                  ((o_orderkey * 53) % 1000)::DOUBLE AS b_lo,
                  ((o_orderkey * 53) % 1000)::DOUBLE + 1.0 + (o_orderkey % 13)::DOUBLE AS b_hi
           FROM orders WHERE o_orderkey % 3 = 1)
         SELECT a.k, count(*) AS n_pairs,
                sum(a_id)::BIGINT AS sum_a, sum(b_id)::BIGINT AS sum_b
         FROM a JOIN b ON a.k = b.k AND a_lo < b_hi AND b_lo < a_hi
         GROUP BY a.k ORDER BY a.k"""),

    // -- as-of join: for each purchase, the LATEST click at-or-before it
    //    per user (tagged-union + ignore-nulls last — one shuffle, no
    //    range-pair blowup; DuckDB oracles with its NATIVE ASOF JOIN)
    QueryDef("q_asof_click", (s, dir) => {
      val ev = graft.sources.EventsSource.events(s, dir)
        .withColumn("us", col("ts_us"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("us"))
      // dedup ties: one click per (user, us), greatest event_id wins
      val clicks = ev.where(col("event_type") === "click")
        .groupBy(col("user_id"), col("us"))
        .agg(max(col("event_id")).as("click_id"))
      operators.AsofJoin
        .asofJoin(purchases, clicks, keyCol = "user_id", tsCol = "us", payloads = Seq("click_id"))
        .select(col("purchase_id"), col("user_id"), col("click_id"))
        .orderBy("purchase_id")
    },
      // DuckDB's native ASOF LEFT JOIN against the composed Spark form;
      // clicks pre-deduped per (user, µs) identically on both sides
      """WITH p AS (SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS us FROM events
                    WHERE event_type = 'purchase'),
          c AS (SELECT user_id, epoch_us(ts) AS c_us, max(event_id) AS click_id FROM events
                WHERE event_type = 'click' GROUP BY user_id, epoch_us(ts))
          SELECT p.purchase_id, p.user_id, c.click_id
          FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND c.c_us <= p.us
          ORDER BY purchase_id"""),

    // -- stream-stream join shape in batch: purchase→click attribution
    //    within a 1-hour window per user (the same expression tree runs
    //    watermarked in Structured Streaming, spec-asserted equal)
    QueryDef("q_event_attribution", (s, dir) => {
      val ev = graft.sources.EventsSource.events(s, dir)
      graft.streaming.EventStream
        .purchaseAttribution(ev, ev)
        .orderBy("purchase_id", "click_id")
    },
      // µs interval bound mirrors p_ts - INTERVAL 1 HOUR; gap_s subtracts
      // second-floored epochs exactly like the two long casts
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us FROM events),
          p AS (SELECT event_id AS purchase_id, user_id, us AS p_us FROM e WHERE event_type = 'purchase'),
          c AS (SELECT event_id AS click_id, user_id AS c_user, us AS c_us FROM e WHERE event_type = 'click')
          SELECT purchase_id, click_id, user_id,
                 (p_us // 1000000 - c_us // 1000000)::BIGINT AS gap_s
          FROM p JOIN c ON user_id = c_user
           AND c_us >= p_us - 3600000000 AND c_us < p_us
          ORDER BY purchase_id, click_id"""),

    // -- Spark's native session_window operator (gap-merged sessions; the
    //    same groupBy works unchanged in Structured Streaming). Boundary
    //    semantics, pinned empirically: a gap of EXACTLY 30 min MERGES
    //    (an event landing on the window end extends it); only a strictly
    //    greater gap starts a new session — hence `>` in the oracle.
    QueryDef("q_session_window", (s, dir) => {
      graft.sources.EventsSource
        .events(s, dir)
        .groupBy(col("user_id"), session_window(col("ts_t"), "30 minutes"))
        .agg(count(lit(1)).as("sess_events"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"), sum(col("sess_events")).as("n_events"))
        .orderBy("user_id")
    },
      """WITH x AS (
           SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                  lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_us
           FROM events),
         s AS (
           SELECT user_id, event_id, ts_us,
                  CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_sess
           FROM x),
         r AS (
           SELECT user_id,
                  sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
           FROM s)
         SELECT user_id, max(sess_id)::BIGINT AS n_sessions, count(*) AS n_events
         FROM r GROUP BY user_id ORDER BY user_id"""),

    // -- sessionization: 30-min-gap sessions per user (lag + running sum)
    QueryDef("q_sessions", (s, dir) => {
      val byUser = Window.partitionBy(col("user_id")).orderBy(asc("ts_us"), asc("event_id"))
      graft.sources.EventsSource
        .events(s, dir)
        .withColumn("prev_us", lag(col("ts_us"), 1).over(byUser))
        .withColumn(
          "new_sess",
          when(col("prev_us").isNull || col("ts_us") - col("prev_us") > 1800000000L, 1).otherwise(0))
        .withColumn(
          "sess_id",
          sum(col("new_sess")).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"))
        .agg(
          max(col("sess_id")).as("n_sessions"),
          count(lit(1)).as("n_events"),
          round(count(lit(1)).cast("double") / max(col("sess_id")), 2).as("events_per_session"))
        .orderBy("user_id")
    },
      """WITH x AS (
           SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                  lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_us
           FROM events),
         s AS (
           SELECT user_id, event_id, ts_us,
                  CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_sess
           FROM x),
         r AS (
           SELECT user_id,
                  sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
           FROM s)
         SELECT user_id, max(sess_id)::BIGINT AS n_sessions, count(*) AS n_events,
                floor((count(*)::DOUBLE / max(sess_id)) * 1e2 + 0.5) / 1e2 AS events_per_session
         FROM r GROUP BY user_id ORDER BY user_id"""),

    // -- repeated-span (boilerplate) detection: the n-gram form of C4's
    //    duplicated-line rule — bigrams appearing in >= 20 distinct docs
    QueryDef("q_boilerplate_spans", (s, dir) => {
      operators.CorpusClean
        .boilerplateSpans(t(s, dir, "documents"), k = 2, minDocs = 20)
        .orderBy(desc("n_docs"), asc("gram"))
    },
      // distinct-per-doc bigrams, so count(*) IS the doc frequency
      s"""WITH ${shinglesCte(2)}
          SELECT gram, count(*) AS n_docs
          FROM (SELECT doc_id, unnest(shingles) AS gram FROM sh) g
          GROUP BY gram HAVING count(*) >= 20
          ORDER BY n_docs DESC, gram"""),

    // -- per-doc boilerplate exposure: distinct bigrams that are corpus
    //    boilerplate + the fraction of the doc they cover
    QueryDef("q_boilerplate_flag", (s, dir) => {
      operators.CorpusClean
        .boilerplateFlag(t(s, dir, "documents"), k = 2, minDocs = 20)
        .orderBy("doc_id")
    },
      s"""WITH ${shinglesCte(2)},
          bp AS (SELECT gram FROM (SELECT doc_id, unnest(shingles) AS gram FROM sh) g
                 GROUP BY gram HAVING count(*) >= 20),
          hit AS (SELECT doc_id, count(*) AS n_bp
                  FROM (SELECT doc_id, unnest(shingles) AS gram FROM sh) g
                  JOIN bp USING (gram) GROUP BY doc_id)
          SELECT s.doc_id, len(s.shingles)::BIGINT AS n_grams,
                 coalesce(hit.n_bp, 0)::BIGINT AS n_bp,
                 floor((CASE WHEN len(s.shingles) = 0 THEN 0.0
                             ELSE coalesce(hit.n_bp, 0)::DOUBLE / len(s.shingles) END) * 1e4 + 0.5) / 1e4 AS bp_frac
          FROM sh s LEFT JOIN hit USING (doc_id) ORDER BY s.doc_id"""),

    // -- PII redaction: deterministic synthetic PII (email/phone/IP derived
    //    from doc_id) appended to each doc, then redacted with the shared
    //    RE2-safe patterns; the oracle re-runs the identical construction +
    //    redaction, so the md5 compare pins every replaced byte
    // -- HTML/markup stripping: the raw-crawl pipeline's FIRST operator.
    //    Testdata is plain text, so markup (tags, script/style/comment
    //    blocks, named + numeric entities) is synthesized from a formula
    //    both engines share; the cleaned text is md5-verified cross-engine
    QueryDef("q_html_strip", (s, dir) => {
      t(s, dir, "documents")
        .withColumn("__tagged", htmlTagged)
        .withColumn("__clean", operators.CorpusClean.stripMarkup(col("__tagged")))
        .select(
          col("doc_id"),
          length(col("__tagged")).as("len_raw"),
          length(col("__clean")).as("len_clean"),
          md5(col("__clean")).as("clean_md5"))
        .orderBy("doc_id")
    },
      s"""WITH d AS (SELECT doc_id, $HtmlTaggedSql AS tagged FROM documents),
          c AS (SELECT doc_id, tagged, ${stripMarkupSql("tagged")} AS clean FROM d)
          SELECT doc_id, length(tagged) AS len_raw, length(clean) AS len_clean,
                 md5(clean) AS clean_md5
          FROM c ORDER BY doc_id"""),

    QueryDef("q_pii_redact", (s, dir) => {
      val dirty = concat(
        col("text"),
        lit(" contact u"), col("doc_id"), lit("@ex"), col("doc_id") % 7,
        lit(".com tel +1-555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" ip 10."), col("doc_id") % 256, lit(".0."), (col("doc_id") * 7) % 256)
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          operators.CorpusClean.piiMatchCount(dirty).as("n_pii"),
          md5(operators.CorpusClean.redactPii(dirty)).as("red_md5"))
        .orderBy("doc_id")
    },
      // identical dirty-text construction + redaction chain (emails, then
      // phones, then IPs); 'g' = replace-all, matching Spark's default
      s"""WITH d AS (
            SELECT doc_id,
                   concat(text, ' contact u', doc_id, '@ex', doc_id % 7,
                          '.com tel +1-555-', lpad((doc_id % 10000)::VARCHAR, 4, '0'),
                          ' ip 10.', doc_id % 256, '.0.', (doc_id * 7) % 256) AS dirty
            FROM documents)
          SELECT doc_id,
                 (len(regexp_extract_all(dirty, '$PiiEmailRe'))
                  + len(regexp_extract_all(dirty, '$PiiPhoneRe'))
                  + len(regexp_extract_all(dirty, '$PiiIpRe')))::INTEGER AS n_pii,
                 md5(regexp_replace(regexp_replace(regexp_replace(dirty,
                       '$PiiEmailRe', '<EMAIL>', 'g'),
                       '$PiiPhoneRe', '<PHONE>', 'g'),
                       '$PiiIpRe', '<IP>', 'g')) AS red_md5
          FROM d ORDER BY doc_id"""),

    // -- CCNet-style quality bucketing: corpus-unigram LM score cut into
    //    per-language head/middle/tail terciles
    QueryDef("q_quality_buckets", (s, dir) => {
      operators.CorpusClean
        .qualityBuckets(t(s, dir, "documents"), nb = 3)
        .orderBy("doc_id")
    },
      s"""WITH $TokCte,
          vocab AS (SELECT word, count(*) AS wf FROM tok GROUP BY word),
          tot AS (SELECT count(*) AS tot FROM tok),
          lp AS (SELECT doc_id,
                        floor((avg(ln(wf::DOUBLE / tot::DOUBLE))) * 1e4 + 0.5) / 1e4 AS r_lp
                 FROM tok JOIN vocab USING (word) CROSS JOIN tot
                 GROUP BY doc_id),
          b AS (SELECT d.doc_id, d.lang, lp.r_lp,
                       (ntile(3) OVER (PARTITION BY d.lang ORDER BY lp.r_lp DESC, d.doc_id))::INTEGER AS bucket
                FROM documents d JOIN lp USING (doc_id))
          SELECT doc_id, lang, r_lp AS mean_lp, bucket,
                 CASE WHEN bucket = 1 THEN 'head' WHEN bucket = 3 THEN 'tail'
                      ELSE 'middle' END AS tier
          FROM b ORDER BY doc_id"""),

    // -- the production CCNet filter stage: per-doc Kneser–Ney bigram
    //    PERPLEXITY cut into per-language head/middle/tail terciles —
    //    q_quality_buckets' shape with the better LM (q_kn_lm's model);
    //    bigram-less docs surface as tier 'short', never dropped silently
    QueryDef("q_kn_ppl_buckets", (s, dir) => {
      operators.CorpusClean
        .knPplBuckets(t(s, dir, "documents"), nb = 3)
        .orderBy("doc_id")
    },
      // the same KN model composed into the CCNet filter stage: per-language
      // perplexity terciles on the 4-dp-rounded score (doc_id tiebreak),
      // bigram-less docs tiered 'short' with bucket 0
      s"""WITH $KnScoreCtes,
         all0 AS (SELECT d.doc_id, d.lang, coalesce(n_big, 0) AS n_big,
                         floor((coalesce(mlp, 0.0)) * 1e4 + 0.5) / 1e4 AS mean_lp
                  FROM documents d LEFT JOIN sc USING (doc_id)),
         pos AS (SELECT *, (ntile(3) OVER (PARTITION BY lang ORDER BY mean_lp DESC, doc_id))::INTEGER AS bucket
                 FROM all0 WHERE n_big > 0),
         neg AS (SELECT *, 0::INTEGER AS bucket FROM all0 WHERE n_big = 0),
         u AS (SELECT * FROM pos UNION ALL SELECT * FROM neg)
         SELECT doc_id, lang, n_big, mean_lp,
                floor(exp(-mean_lp) * 1e4 + 0.5) / 1e4 AS ppl_r, bucket,
                CASE WHEN bucket = 0 THEN 'short' WHEN bucket = 1 THEN 'head'
                     WHEN bucket = 3 THEN 'tail' ELSE 'middle' END AS tier
         FROM u ORDER BY doc_id"""),

    // -- token-budget mixture sampling: greedy per-language prefix in
    //    deterministic md5 order until each language's budget is spent
    QueryDef("q_mixture_sample", (s, dir) => {
      operators.CorpusClean
        .mixtureSample(
          t(s, dir, "documents"),
          Map("en" -> 5000L, "de" -> 2000L, "es" -> 2000L, "fr" -> 2000L, "zh" -> 1000L))
        .orderBy("doc_id")
    },
      """WITH b(lang, budget) AS (VALUES ('en', 5000), ('de', 2000), ('es', 2000), ('fr', 2000), ('zh', 1000)),
          d AS (SELECT doc_id, lang,
                       len(regexp_split_to_array(text, '\s+'))::BIGINT AS n_ws,
                       md5(doc_id::VARCHAR) AS rk
                FROM documents),
          c AS (SELECT d.doc_id, d.lang, d.n_ws, b.budget,
                       sum(d.n_ws) OVER (PARTITION BY d.lang ORDER BY d.rk, d.doc_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_ws
                FROM d JOIN b USING (lang))
          SELECT doc_id, lang, n_ws, cum_ws::BIGINT AS cum_ws
          FROM c WHERE cum_ws - n_ws < budget ORDER BY doc_id"""),

    // -- temperature-scaled mixture plan: budget 5000 docs across sources
    //    ∝ size^0.7 (largest-remainder integerization, Σ target == budget)
    QueryDef("q_temp_mixture", (s, dir) => {
      Sampling
        .temperatureMixture(t(s, dir, "documents"), "source", alpha = 0.7, budget = 5000L)
        .orderBy("source")
    },
      """WITH s AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
         w AS (SELECT source, n_docs, pow(n_docs::DOUBLE, 0.7) AS w FROM s),
         t AS (SELECT sum(w) AS tw FROM w),
         i AS (SELECT source, n_docs, share, ideal,
                      floor(ideal) AS base,
                      ideal - floor(ideal) AS fr9
               FROM (SELECT source, n_docs, w / tw AS share,
                            floor(((w / tw) * 5000) * 1e6 + 0.5) / 1e6 AS ideal
                     FROM w CROSS JOIN t) q0),
         r AS (SELECT sum(base)::BIGINT AS sb FROM i),
         k AS (SELECT source, n_docs, share, base,
                      row_number() OVER (ORDER BY fr9 DESC, source) AS rk
               FROM i)
         SELECT source, n_docs,
                floor(share * 1e6 + 0.5) / 1e6 AS share_r,
                (base + CASE WHEN rk <= 5000 - sb THEN 1 ELSE 0 END)::BIGINT AS target_docs
         FROM k CROSS JOIN r ORDER BY source"""),

    // -- DoReMi-style domain reweighting (Xie et al. 2023): per-domain
    //    EXCESS cross-entropy (mixture-LM loss minus own-domain-LM loss,
    //    add-one unigram proxies) -> multiplicative weight, uniform-
    //    smoothed — mixture design by model-loss headroom, not size
    QueryDef("q_doremi", (s, dir) => {
      Sampling.doremiWeights(t(s, dir, "documents")).orderBy("lang")
    },
      doremiOracleSql(1.0, 0.2)),

    // -- pairwise source-vocabulary overlap: Jaccard of distinct-word sets
    //    per source pair — the redundancy map behind mixture weighting
    QueryDef("q_source_overlap", (s, dir) => {
      operators.Stats
        .sourceOverlap(
          Tokenize.tokens(t(s, dir, "documents"), "text", Seq("doc_id", "source")),
          "source")
        .orderBy("source_a", "source_b")
    },
      """WITH v AS (
           SELECT DISTINCT g, word FROM (
             SELECT source AS g,
                    regexp_replace(lower(unnest(regexp_split_to_array(text, '\s+'))), '[^a-z]', '', 'g') AS word
             FROM documents) u
           WHERE word <> ''),
         sz AS (SELECT g, count(*) AS vs FROM v GROUP BY 1),
         inter AS (SELECT a.g AS source_a, b.g AS source_b, count(*) AS n_shared
                   FROM v a JOIN v b ON a.word = b.word AND a.g < b.g
                   GROUP BY 1, 2)
         SELECT source_a, source_b, sa.vs AS v_a, sb.vs AS v_b, n_shared,
                floor((n_shared::DOUBLE / (sa.vs + sb.vs - n_shared)) * 1e4 + 0.5) / 1e4 AS jaccard_r
         FROM inter
         JOIN sz sa ON sa.g = source_a
         JOIN sz sb ON sb.g = source_b
         ORDER BY source_a, source_b"""),

    // -- embedding-table hygiene: per-label dims/zeros/NaNs/norm spread —
    //    the structural audit before any vector math trusts the table
    QueryDef("q_embed_hygiene", (s, dir) => {
      Similarity
        .embedHygiene(t(s, dir, "embeddings"))
        .orderBy("label")
    },
      """WITH e AS (
           SELECT label, len(embedding) AS d,
                  sqrt(list_sum(list_transform(embedding,
                       x -> x::DOUBLE * x::DOUBLE))) AS nrm
           FROM embeddings)
         SELECT label, count(*) AS n_vecs,
                min(d)::INTEGER AS min_dim, max(d)::INTEGER AS max_dim,
                sum(CASE WHEN nrm = 0.0 THEN 1 ELSE 0 END)::BIGINT AS n_zero,
                sum(CASE WHEN isnan(nrm) OR nrm IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nan,
                floor(avg(CASE WHEN NOT isnan(nrm) THEN nrm END) * 1e4 + 0.5) / 1e4 AS mean_norm_r,
                floor(min(CASE WHEN NOT isnan(nrm) THEN nrm END) * 1e4 + 0.5) / 1e4 AS min_norm_r,
                floor(max(CASE WHEN NOT isnan(nrm) THEN nrm END) * 1e4 + 0.5) / 1e4 AS max_norm_r
         FROM e GROUP BY 1 ORDER BY label"""),

    // -- fixed-iteration PageRank over the (undirected) customer–supplier
    //    bipartite graph: 5 contribution-join/sum/teleport rounds composed
    //    as one declarative plan
    QueryDef("q_pagerank", (s, dir) => {
      // r21 (guide §2.3 — narrower types): iterate on LONG node keys (the
      // q_hits relabeling — customer +ck+1 / supplier −(sk+1)); the graph is
      // isomorphic so per-node scores are identical (fp-assoc noise ~1e-15
      // vs the 6dp rounding grain), and the declared string ids are
      // reconstructed after the fixpoint.
      operators.Graph
        .pagerankRounded(
          operators.Graph.customerSupplierEdgesNum(t(s, dir, "orders"), t(s, dir, "lineitem")),
          iters = 5)
        .select(operators.Graph.csNodeStr(col("node")).as("node"), col("pr"))
        .orderBy("node")
    },
      pagerankSql(iters = 5, d = 0.85)),

    // -- HITS hubs & authorities over the DIRECTED customer→supplier
    //    graph (3 rounds): the eigenvector pair PageRank can't express —
    //    hub = breadth-of-buying, authority = bought-by-broad-buyers.
    //    Edges materialized once; each half-round shuffles only the
    //    node-sized score relation; L1 normalizers are broadcast scalars.
    QueryDef("q_hits", (s, dir) => {
      // r21 (guide §2.3 — narrower types): the iterations join/aggregate on
      // the node key 6 times, so the key representation is the family's
      // shuffle+checkpoint currency. Internally nodes are LONGS (customer
      // +ck, supplier −sk — both keys are ≥ 1 so the sign is a lossless
      // bipartite tag); the declared string ids are reconstructed after the
      // fixpoint, so the result is byte-identical (scores are integer-sum
      // exact, grouping is isomorphic under the relabeling). Keys are
      // shifted by 1 before tagging: key 0 exists in the corpus, and a bare
      // sign tag would merge customer 0 with supplier 0.
      val e0 = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") + 1).cast("long").as("src"),
          (-(col("l_suppkey") + 1)).cast("long").as("dst"))
        .distinct()
      operators.Graph.hits(e0, iters = 3)
        .select(
          when(col("node") > 0, concat(lit("c"), col("node") - 1))
            .otherwise(concat(lit("s"), -col("node") - 1)).as("node"),
          col("hub_r"), col("auth_r"))
        .orderBy("node")
    },
      hitsSql(iters = 3)),

    // -- degree histogram of the same graph (degree → node count)
    QueryDef("q_graph_degree", (s, dir) => {
      // r21: numeric node keys (q_pagerank note); the histogram carries no
      // node ids, so no reconstruction is even needed — degrees are
      // invariant under the relabeling.
      operators.Graph
        .degrees(operators.Graph.customerSupplierEdgesNum(t(s, dir, "orders"), t(s, dir, "lineitem")))
        .groupBy(col("degree"))
        .agg(count(lit(1)).as("n_nodes"))
        .orderBy("degree")
    },
      s"""WITH $GraphEdgesCte,
          deg AS (SELECT src AS node, count(*) AS degree FROM e GROUP BY src)
          SELECT degree, count(*) AS n_nodes FROM deg GROUP BY degree ORDER BY degree"""),

    // -- higher-order array functions over the embedding column: filter /
    //    aggregate (fold) / zip_with stay whole-stage-codegen'd — no UDF,
    //    no explode; the oracle recomputes via unnest + group-by
    QueryDef("q_higher_order", (s, dir) => {
      val emb = col("embedding")
      val toD = (c: Column) => c.cast("double")
      t(s, dir, "embeddings")
        .select(
          col("vec_id"),
          size(filter(emb, x => x > 0.0f)).as("n_pos"),
          round(aggregate(emb, lit(0.0), (acc, x) => acc + toD(x)), 3).as("sum_all"),
          round(sqrt(aggregate(emb, lit(0.0), (acc, x) => acc + toD(x) * toD(x))), 3).as("l2"),
          round(
            aggregate(
              zip_with(emb, reverse(emb), (a, b) => toD(a) * toD(b)),
              lit(0.0), (acc, x) => acc + x),
            3).as("dot_rev"))
        .orderBy("vec_id")
    },
      """WITH u AS (SELECT vec_id, embedding, unnest(range(1, len(embedding) + 1)) AS i FROM embeddings),
          a AS (SELECT vec_id,
                       count(CASE WHEN embedding[i] > 0 THEN 1 END) AS n_pos,
                       sum(embedding[i]::DOUBLE) AS s,
                       sum(embedding[i]::DOUBLE * embedding[i]::DOUBLE) AS ss,
                       sum(embedding[i]::DOUBLE * embedding[len(embedding) - i + 1]::DOUBLE) AS sr
                FROM u GROUP BY vec_id)
          SELECT vec_id, n_pos::INTEGER AS n_pos,
                 floor((s) * 1e3 + 0.5) / 1e3 AS sum_all,
                 floor(sqrt(ss) * 1e3 + 0.5) / 1e3 AS l2,
                 floor((sr) * 1e3 + 0.5) / 1e3 AS dot_rev
          FROM a ORDER BY vec_id"""),

    // -- context-window chunking: 32-token windows every 24 tokens (8-token
    //    overlap) — map-side sequence+slice, no shuffle; chunks are
    //    md5-fingerprinted so hot docs don't balloon the result
    QueryDef("q_chunk_docs", (s, dir) => {
      operators.Chunking
        .chunkTokens(t(s, dir, "documents"), size = 32, stride = 24)
        .select(
          col("doc_id"), col("chunk_id"), col("n_chunk"),
          md5(array_join(col("chunk"), " ")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_id")
    },
      s"""WITH $ToksArrCte,
          s AS (SELECT doc_id, toks, unnest(generate_series(0, len(toks) - 1, 24)) AS st
                FROM toks_arr WHERE len(toks) > 0)
          SELECT doc_id, (st // 24)::INT AS chunk_id,
                 least(32, len(toks) - st)::INT AS n_chunk,
                 md5(array_to_string(list_slice(toks, st + 1, st + 32), ' ')) AS chunk_md5
          FROM s ORDER BY doc_id, chunk_id"""),

    // -- TextTiling topic segmentation: adjacent-block cosine valleys
    //    (Hearst 1997) — boundaries where depth clears mean − sd/2; the
    //    semantics-aware chunker (fixed windows cut mid-topic)
    QueryDef("q_text_tiling", (s, dir) =>
      operators.Chunking
        .textTiling(t(s, dir, "documents"), block = 10)
        .orderBy("doc_id", "gap"),
      // adjacent-block cosine from exact integer dot/norm sums; depths from
      // ROUNDED sims; cutoff Σd/Σd² ride 1e6-scaled HUGEINT sums
      // (mirror of Chunking.textTiling)
      s"""WITH $ToksArrCte,
          tl AS (SELECT doc_id, ((j - 1) // 10)::INT AS b, toks[j] AS w
                 FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS j
                       FROM toks_arr) u),
          tc AS (SELECT doc_id, b, w, count(*)::BIGINT AS c FROM tl GROUP BY 1, 2, 3),
          nm AS (SELECT doc_id, b, sum(c * c)::BIGINT AS q FROM tc GROUP BY 1, 2),
          dt AS (SELECT a.doc_id, a.b AS gap, sum(a.c * b2.c)::BIGINT AS dot
                 FROM tc a JOIN tc b2
                   ON b2.doc_id = a.doc_id AND b2.w = a.w AND b2.b = a.b + 1
                 GROUP BY 1, 2),
          sm AS (SELECT l.doc_id, l.b AS gap,
                        floor((coalesce(dot, 0)::DOUBLE
                               / (sqrt(l.q::DOUBLE) * sqrt(r.q::DOUBLE))) * 1e6 + 0.5) / 1e6 AS sim_r
                 FROM nm l JOIN nm r ON r.doc_id = l.doc_id AND r.b = l.b + 1
                 LEFT JOIN dt ON dt.doc_id = l.doc_id AND dt.gap = l.b),
          dp AS (SELECT doc_id, gap, sim_r,
                        floor((greatest(0.0, coalesce(lag(sim_r) OVER w - sim_r, 0.0))
                               + greatest(0.0, coalesce(lead(sim_r) OVER w - sim_r, 0.0))) * 1e6 + 0.5) / 1e6
                          AS depth_r
                 FROM sm WINDOW w AS (PARTITION BY doc_id ORDER BY gap)),
          st AS (SELECT doc_id, count(*)::BIGINT AS n,
                        sum(floor(depth_r * 1e6 + 0.5)::HUGEINT) AS sd,
                        sum(floor(depth_r * 1e6 + 0.5)::HUGEINT
                            * floor(depth_r * 1e6 + 0.5)::HUGEINT) AS sdd
                 FROM dp GROUP BY 1)
          SELECT dp.doc_id, gap, sim_r, depth_r,
                 depth_r > (sd::DOUBLE / 1e6 / n::DOUBLE
                            - sqrt(greatest(0.0, (sdd::DOUBLE / 1e12
                                                  - (sd::DOUBLE / 1e6) * (sd::DOUBLE / 1e6) / n::DOUBLE)
                                                 / n::DOUBLE)) / 2) AS boundary
          FROM dp JOIN st ON st.doc_id = dp.doc_id
          ORDER BY dp.doc_id, gap"""),

    // -- front-coding size estimate for the per-letter term dictionary
    //    (Managing Gigabytes §4.1): adjacent sorted words share prefixes;
    //    the window partitions by FIRST LETTER — the reference's a.txt…
    //    z.txt split — so each chain is one letter file's vocabulary.
    //    The dictionary-side companion of q_delta_postings.
    QueryDef("q_front_coding", (s, dir) => {
      InvertedIndex
        .frontCodingStats(
          Tokenize.tokens(t(s, dir, "documents"), "text", Seq("doc_id")))
        .orderBy("letter")
    },
      // LCP positionally (prefix equality is monotone → filter counts it);
      // 1 byte prefix-length overhead per word — mirror of frontCodingStats
      s"""WITH $TokCte,
          v AS (SELECT DISTINCT word FROM tok),
          l AS (SELECT word, substr(word, 1, 1) AS letter,
                       lag(word) OVER (PARTITION BY substr(word, 1, 1) ORDER BY word) AS prev
                FROM v),
          c AS (SELECT letter, word,
                       CASE WHEN prev IS NULL THEN 0
                            ELSE len(list_filter(range(1, least(len(word), len(prev)) + 1),
                                                 i -> substr(word, 1, i) = substr(prev, 1, i)))
                       END AS lcp
                FROM l)
          SELECT letter, count(*)::BIGINT AS n_words,
                 sum(len(word))::BIGINT AS raw_bytes,
                 sum(len(word) - lcp + 1)::BIGINT AS coded_bytes,
                 floor((sum(len(word) - lcp + 1)::DOUBLE / sum(len(word))) * 1e4 + 0.5) / 1e4 AS ratio_r
          FROM c GROUP BY letter ORDER BY letter"""),

    // -- gap-encoded postings + varint byte cost: the Lucene-style index
    //    compression, computed in-place over the posting arrays
    QueryDef("q_postings_delta", (s, dir) => {
      InvertedIndex
        .deltaPostings(
          InvertedIndex.postings(Tokenize.tokens(t(s, dir, "documents"), "text", Seq("doc_id"))))
        .orderBy("word")
    },
      s"""WITH $TokCte,
          p AS (SELECT word, list_sort(list_distinct(list(doc_id))) AS ids FROM tok GROUP BY word),
          g AS (SELECT word, len(ids)::INT AS df,
                       list_transform(range(1, len(ids) + 1),
                                      i -> CASE WHEN i = 1 THEN ids[1] ELSE ids[i] - ids[i - 1] END) AS gaps
                FROM p),
          v AS (SELECT word, df, gaps,
                       list_sum(list_transform(gaps,
                         x -> CASE WHEN x < 128 THEN 1 WHEN x < 16384 THEN 2
                                   WHEN x < 2097152 THEN 3 WHEN x < 268435456 THEN 4
                                   ELSE 5 END))::BIGINT AS varint_bytes
                FROM g)
          SELECT word, df, md5(array_to_string(gaps, ',')) AS gaps_md5,
                 varint_bytes, (df * 8)::BIGINT AS naive_bytes,
                 floor((varint_bytes::DOUBLE / (df * 8)) * 1e4 + 0.5) / 1e4 AS ratio
          FROM v ORDER BY word"""),

    // -- vocabulary prefix search (autocomplete / wildcard expansion):
    //    words starting with "s", top 20 by df
    QueryDef("q_search_prefix", (s, dir) => {
      Search.prefixQuery(
        InvertedIndex.postings(Tokenize.tokens(t(s, dir, "documents"), "text", Seq("doc_id"))),
        prefix = "s", k = 20)
    },
      s"""WITH $TokCte,
          p AS (SELECT word, count(DISTINCT doc_id)::INT AS df FROM tok GROUP BY word)
          SELECT word, df FROM p WHERE word LIKE 's%'
          ORDER BY df DESC, word LIMIT 20"""),

    // -- leading-wildcard (suffix) search *ing: the reversed-term trick —
    //    over the reversed vocabulary the unsargable trailing pattern
    //    becomes a stat-prunable LEADING prefix
    QueryDef("q_search_suffix", (s, dir) => {
      Search.suffixQuery(
        InvertedIndex.postings(Tokenize.tokens(t(s, dir, "documents"), "text", Seq("doc_id"))),
        suffix = "er", k = 20)
    },
      // the oracle states the SEMANTICS (ends_with); the engine serves it
      // as a leading prefix over the reversed vocabulary
      s"""WITH $TokCte,
          p AS (SELECT word, count(DISTINCT doc_id)::INT AS df FROM tok GROUP BY word)
          SELECT word, df FROM p WHERE word LIKE '%er'
          ORDER BY df DESC, word LIMIT 20"""),

    // -- per-domain document cap (crawl curation): ≤ 10 docs per source in
    //    deterministic md5 order, selected by the bounded partial top-k —
    //    never a whole-domain window partition
    QueryDef("q_source_cap", (s, dir) => {
      Sampling
        .perGroupCap(t(s, dir, "documents"), "source", "doc_id", cap = 10)
        .orderBy("source", "rk", "doc_id")
    },
      """WITH r AS (SELECT source, doc_id,
                           ('0x' || substr(md5('cap:' || doc_id::VARCHAR), 1, 13))::BIGINT AS rk
                    FROM documents)
         SELECT source, doc_id, rk FROM r
         QUALIFY row_number() OVER (PARTITION BY source ORDER BY rk, doc_id) <= 10
         ORDER BY source, rk, doc_id"""),

    // -- token-BUDGET sampling per language (corpus mixes are specified
    //    in tokens, not docs): hash-order prefix until 2000 tokens per
    //    group, running sum in the hash-prefix-chunked two-pass form
    QueryDef("q_token_budget", (s, dir) => {
      Sampling
        .tokenBudgetSample(t(s, dir, "documents"), "lang", budget = 2000)
        .orderBy("lang", "doc_id")
    },
      """WITH t AS (
           SELECT lang, doc_id,
                  len(regexp_split_to_array(text, '\s+'))::BIGINT AS n_tok,
                  ('0x' || substr(md5('tb:' || doc_id::VARCHAR), 1, 13))::BIGINT AS rk
           FROM documents),
         c AS (
           SELECT *, sum(n_tok) OVER (PARTITION BY lang ORDER BY rk, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS cum_before
           FROM t)
         SELECT lang, doc_id, n_tok, rk FROM c
         WHERE cum_before < 2000 ORDER BY lang, doc_id"""),

    // -- hashed-feature linear quality scoring (fastText-shape model
    //    filter): bucket weights summed in-array, integer-exact margin
    QueryDef("q_classifier_score", (s, dir) => {
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          round(TextAnalysis.hashedLinearScore(col("text"), buckets = 512), 6).as("score"))
        .withColumn("keep", when(col("score") > 0.0, 1).otherwise(0))
        .orderBy("doc_id")
    },
      s"""WITH $ToksArrCte,
          sc AS (SELECT doc_id,
                        CASE WHEN len(toks) = 0 THEN 0.0
                             ELSE floor((list_sum(list_transform(toks,
                                    w -> (('0x' || substr(md5(w), 1, 8))::BIGINT % 512) % 101 - 50))::DOUBLE
                                  / (50.0 * len(toks))) * 1e6 + 0.5) / 1e6 END AS score
                 FROM toks_arr)
          SELECT doc_id, score, CASE WHEN score > 0.0 THEN 1 ELSE 0 END AS keep
          FROM sc ORDER BY doc_id"""),

    // -- calibration eval of the hashed linear classifier (reliability
    //    diagram + expected calibration error): confidence = (score+1)/2
    //    binned into 10 equal-width bins; per-bin mean confidence vs the
    //    observed rate of the mostly-alphabetic label; ECE = Σ n/N·|gap|
    //    rides every row as a windowed total over the 10 bin rows. The
    //    miscalibration a threshold-only eval (q_classifier_score) can't
    //    see — the decision dial for "can I trust score=0.7 as 70%?".
    //    One groupBy over a map-side-scored scan; the window is over 10
    //    rows. ECE is computed FROM the rounded bin aggregates, so both
    //    engines sum identical rationals.
    QueryDef("q_calibration_ece", (s, dir) => {
      val ws = split(col("text"), "\\s+")
      val scored = t(s, dir, "documents").select(
        round(TextAnalysis.hashedLinearScore(col("text"), buckets = 512), 6).as("score"),
        (size(filter(ws, x => x.rlike("[A-Za-z]"))).cast("double")
          / size(ws).cast("double") >= 0.8).cast("int").as("label"))
        .withColumn("conf", (col("score") + 1.0) / 2.0)
      operators.Stats.reliability(scored, "conf", "label").orderBy("bin")
    },
      // ECE from the ROUNDED bin aggregates, so both engines sum identical
      // rationals; the classifier score is the q_classifier_score mirror
      s"""WITH $ToksArrCte,
          base AS (SELECT d.doc_id,
                     CASE WHEN len(t.toks) = 0 THEN 0.0
                          ELSE floor((list_sum(list_transform(t.toks,
                                 w -> (('0x' || substr(md5(w), 1, 8))::BIGINT % 512) % 101 - 50))::DOUBLE
                               / (50.0 * len(t.toks))) * 1e6 + 0.5) / 1e6 END AS score,
                     (len(list_filter(regexp_split_to_array(d.text, '\\s+'),
                          x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
                      / len(regexp_split_to_array(d.text, '\\s+')) >= 0.8)::INT AS label
                   FROM documents d JOIN toks_arr t USING (doc_id)),
          c AS (SELECT least(floor(((score + 1.0) / 2.0) * 10), 9)::INT AS bin,
                       (score + 1.0) / 2.0 AS conf, label
                FROM base),
          b AS (SELECT bin, count(*) AS n,
                       floor(avg(conf) * 1e4 + 0.5) / 1e4 AS conf_r,
                       floor(avg(label) * 1e4 + 0.5) / 1e4 AS acc_r
                FROM c GROUP BY bin),
          g AS (SELECT bin, n, conf_r, acc_r,
                       floor(abs(conf_r - acc_r) * 1e4 + 0.5) / 1e4 AS gap_r
                FROM b)
          SELECT bin, n, conf_r, acc_r, gap_r,
                 floor((sum(n * gap_r) OVER () / sum(n) OVER ()) * 1e6 + 0.5) / 1e6 AS ece_r
          FROM g ORDER BY bin"""),

    // -- exact ROC AUC (Mann–Whitney rank-sum form): does the hashed
    //    classifier score ORDER long docs above short ones? (median-split
    //    label — both classes populated, unlike the alphabetic-ratio
    //    label that is all-positive on this corpus). All-integer 2PN·AUC
    //    via chunked-prefix negBelow, one double division.
    QueryDef("q_auc", (s, dir) => {
      // coalesce keeps the rounded score STATICALLY non-nullable (round's
      // floor/divide form is nullable to Catalyst even over a non-null
      // child), so rocAuc's isnotnull guard folds away instead of pushing
      // a scan filter that re-derives the whole scoring expression per
      // row (the r13/r14 audited-plan residual)
      val scored = t(s, dir, "documents").select(
        coalesce(round(TextAnalysis.hashedLinearScore(col("text"), buckets = 512), 6),
          lit(0.0)).as("score"),
        (col("n_chars") >= 300).cast("int").as("label"))
      operators.Stats.rocAuc(scored, "score", "label")
    },
      // rank-sum AUC replay: per-distinct-score (pos, neg) counts, integer
      // 2PN·AUC with a cumulative negatives window, one double division
      s"""WITH $ToksArrCte,
          base AS (SELECT d.doc_id,
                     CASE WHEN len(t.toks) = 0 THEN 0.0
                          ELSE floor((list_sum(list_transform(t.toks,
                                 w -> (('0x' || substr(md5(w), 1, 8))::BIGINT % 512) % 101 - 50))::DOUBLE
                               / (50.0 * len(t.toks))) * 1e6 + 0.5) / 1e6 END AS score,
                     (d.n_chars >= 300)::INT AS label
                   FROM documents d JOIN toks_arr t USING (doc_id)),
          s AS (SELECT score AS sc, sum((label = 1)::INT) AS p, sum((label <> 1)::INT) AS n
                FROM base GROUP BY score),
          c AS (SELECT sc, p, n, (sum(n) OVER (ORDER BY sc) - n) AS neg_below FROM s),
          u AS (SELECT sum(p)::BIGINT AS n_pos, sum(n)::BIGINT AS n_neg,
                       sum(p * (2 * neg_below + n)) AS u2
                FROM c)
          SELECT n_pos, n_neg,
                 floor((u2::DOUBLE / (2.0 * n_pos * n_neg)) * 1e6 + 0.5) / 1e6 AS auc_r
          FROM u"""),

    // -- isotonic calibration over the SAME scored relation as q_auc:
    //    the monotone repair of the per-bin label rate via the minimax
    //    closed form (max_j<=i min_k>=i of range averages) — a bins³-
    //    bounded declarative lattice instead of the sequential PAV loop;
    //    what q_calibration_ece diagnoses, this emits the remap table for
    QueryDef("q_isotonic", (s, dir) => {
      val scored = t(s, dir, "documents").select(
        coalesce(round(TextAnalysis.hashedLinearScore(col("text"), buckets = 512), 6),
          lit(0.0)).as("score"),
        (col("n_chars") >= 300).cast("int").as("label"))
        .withColumn("conf", (col("score") + 1.0) / 2.0)
      operators.Stats.isotonicCalibration(scored, "conf", "label").orderBy("bin")
    },
      // same scored base as q_auc; the minimax PAV lattice over bins³
      // rounded range averages (mirror of Stats.isotonicCalibration)
      s"""WITH $ToksArrCte,
          base AS (SELECT d.doc_id,
                     CASE WHEN len(t.toks) = 0 THEN 0.0
                          ELSE floor((list_sum(list_transform(t.toks,
                                 w -> (('0x' || substr(md5(w), 1, 8))::BIGINT % 512) % 101 - 50))::DOUBLE
                               / (50.0 * len(t.toks))) * 1e6 + 0.5) / 1e6 END AS score,
                     (d.n_chars >= 300)::INT AS label
                   FROM documents d JOIN toks_arr t USING (doc_id)),
          c AS (SELECT least(floor(((score + 1.0) / 2.0) * 10), 9)::INT AS bin, label
                FROM base),
          b AS (SELECT bin, count(*)::BIGINT AS n, sum(label)::BIGINT AS c FROM c GROUP BY 1),
          p AS MATERIALIZED (SELECT bin, n, c,
                 sum(n) OVER (ORDER BY bin) AS nn,
                 sum(c) OVER (ORDER BY bin) AS cc FROM b),
          r AS (SELECT j.bin AS j, k.bin AS k,
                       floor(((k.cc - (j.cc - j.c))::DOUBLE
                              / (k.nn - (j.nn - j.n))::DOUBLE) * 1e6 + 0.5) / 1e6 AS avgr
                FROM p j JOIN p k ON j.bin <= k.bin),
          m AS (SELECT p.bin, p.n, p.c, r.j, min(r.avgr) AS mn
                FROM p JOIN r ON r.j <= p.bin AND r.k >= p.bin GROUP BY 1, 2, 3, 4)
          SELECT bin, n,
                 floor((c::DOUBLE / n::DOUBLE) * 1e6 + 0.5) / 1e6 AS raw_rate_r,
                 max(mn) AS iso_rate_r
          FROM m GROUP BY bin, n, c ORDER BY bin"""),

    // -- decile gains table over the SAME scored relation as q_auc:
    //    what acting on the top d deciles GETS you (capture + lift);
    //    slice from chunked-prefix strictly-above counts, cumulatives
    //    via a buckets²-bounded self-join
    QueryDef("q_gains_table", (s, dir) => {
      val scored = t(s, dir, "documents").select(
        coalesce(round(TextAnalysis.hashedLinearScore(col("text"), buckets = 512), 6),
          lit(0.0)).as("score"),
        (col("n_chars") >= 300).cast("int").as("label"))
      operators.Stats
        .gainsTable(scored, "score", "label", buckets = 10, chunkWidth = 0.05)
        .orderBy("decile")
    },
      // same scored base as q_auc; strictly-above slice + self-join cums
      s"""WITH $ToksArrCte,
          base AS (SELECT d.doc_id,
                     CASE WHEN len(t.toks) = 0 THEN 0.0
                          ELSE floor((list_sum(list_transform(t.toks,
                                 w -> (('0x' || substr(md5(w), 1, 8))::BIGINT % 512) % 101 - 50))::DOUBLE
                               / (50.0 * len(t.toks))) * 1e6 + 0.5) / 1e6 END AS score,
                     (d.n_chars >= 300)::INT AS label
                   FROM documents d JOIN toks_arr t USING (doc_id)),
          tot AS (SELECT count(*)::BIGINT AS n, sum(label)::BIGINT AS np FROM base),
          s AS (SELECT score AS sc, count(*) AS c, sum(label)::BIGINT AS p
                FROM base GROUP BY score),
          cm AS (SELECT sc, c, p,
                        sum(c) OVER (ORDER BY sc
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_incl
                 FROM s),
          pb AS (SELECT ((10 * (tot.n - cum_incl)) // tot.n + 1)::BIGINT AS decile,
                        sum(c)::BIGINT AS n, sum(p)::BIGINT AS n_pos
                 FROM cm CROSS JOIN tot GROUP BY 1),
          fin AS (SELECT a.decile, a.n, a.n_pos,
                         sum(b.n)::BIGINT AS cum_n, sum(b.n_pos)::BIGINT AS cum_pos
                  FROM pb a JOIN pb b ON b.decile <= a.decile
                  GROUP BY 1, 2, 3)
          SELECT decile, fin.n, n_pos,
                 floor((n_pos::DOUBLE / fin.n::DOUBLE) * 1e4 + 0.5) / 1e4 AS pos_rate_r,
                 cum_n, cum_pos,
                 floor((CASE WHEN tot.np > 0 THEN cum_pos::DOUBLE / tot.np::DOUBLE END) * 1e4 + 0.5) / 1e4 AS capture_r,
                 floor((CASE WHEN tot.np > 0 THEN (cum_pos::DOUBLE / cum_n::DOUBLE)
                                / (tot.np::DOUBLE / tot.n::DOUBLE) END) * 1e4 + 0.5) / 1e4 AS lift_r
          FROM fin CROSS JOIN tot ORDER BY decile"""),

    // -- Hill tail-index of the trigram frequency distribution: top-201
    //    order statistics via TakeOrdered, boundary min broadcast, no
    //    window — α̂ < 2 means plan for hot keys
    QueryDef("q_hill_tail", (s, dir) => {
      val counts = t(s, dir, "documents")
        .select(Tokenize.tokenArray(col("text")).as("__toks"))
        .select(explode(
          TextAnalysis.rawShinglesFromToks(col("__toks"), 3)).as("g"))
        .groupBy(col("g")).agg(count(lit(1)).as("c"))
      operators.Stats.hillTail(counts, "c", "g", k = 200)
    },
      // top-(k+1) order statistics; boundary ties contribute ln(1)=0
      """WITH toks0 AS (
           SELECT doc_id,
                  list_filter(
                    list_transform(regexp_split_to_array(text, '\s+'),
                                   x -> regexp_replace(lower(x), '[^a-z]', '', 'g')),
                    w -> w <> '') AS toks
           FROM documents),
          rsh AS (
           SELECT doc_id,
                  CASE WHEN len(toks) = 0 THEN []::VARCHAR[]
                       WHEN len(toks) >= 3
                       THEN list_transform(range(1, len(toks) - 1),
                                           i -> array_to_string(list_slice(toks, i, i + 2), ' '))
                       ELSE [array_to_string(toks, ' ')] END AS sh
           FROM toks0),
          g AS (SELECT unnest(sh) AS word FROM rsh),
          c AS (SELECT word, count(*) AS c FROM g GROUP BY word),
          top AS (SELECT c::DOUBLE AS v FROM c WHERE c > 0
                  ORDER BY c DESC, word ASC LIMIT 201),
          xk AS (SELECT min(v) AS xk1 FROM top),
          sl AS (SELECT sum(ln(v / xk1)) AS sl FROM top CROSS JOIN xk)
          SELECT 200::BIGINT AS k, xk.xk1 AS xk1,
                 floor((CASE WHEN sl > 0.0 THEN 200.0 / sl END) * 1e6 + 0.5) / 1e6 AS alpha_r
          FROM sl CROSS JOIN xk"""),

    // -- Murphy decomposition of the Brier score over the SAME scored
    //    relation as q_calibration_ece: REL − RES + UNC — is the score
    //    bad because of CALIBRATION (remap fixes it) or RESOLUTION (the
    //    model can't separate)? One corpus scan, bins-sized after.
    QueryDef("q_brier", (s, dir) => {
      val ws = split(col("text"), "\\s+")
      val scored = t(s, dir, "documents").select(
        round(TextAnalysis.hashedLinearScore(col("text"), buckets = 512), 6).as("score"),
        (size(filter(ws, x => x.rlike("[A-Za-z]"))).cast("double")
          / size(ws).cast("double") >= 0.8).cast("int").as("label"))
        .withColumn("conf", (col("score") + 1.0) / 2.0)
      operators.Stats.brierDecomposition(scored, "conf", "label")
    },
      // Murphy decomposition from the SAME rounded bin aggregates as the
      // ECE oracle; obar from rounded acc, unc/brier from rounded pieces
      s"""WITH $ToksArrCte,
          base AS (SELECT d.doc_id,
                     CASE WHEN len(t.toks) = 0 THEN 0.0
                          ELSE floor((list_sum(list_transform(t.toks,
                                 w -> (('0x' || substr(md5(w), 1, 8))::BIGINT % 512) % 101 - 50))::DOUBLE
                               / (50.0 * len(t.toks))) * 1e6 + 0.5) / 1e6 END AS score,
                     (len(list_filter(regexp_split_to_array(d.text, '\\s+'),
                          x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
                      / len(regexp_split_to_array(d.text, '\\s+')) >= 0.8)::INT AS label
                   FROM documents d JOIN toks_arr t USING (doc_id)),
          c AS (SELECT least(floor(((score + 1.0) / 2.0) * 10), 9)::INT AS bin,
                       (score + 1.0) / 2.0 AS conf, label
                FROM base),
          b AS (SELECT bin, count(*) AS n,
                       floor(avg(conf) * 1e4 + 0.5) / 1e4 AS conf_r,
                       floor(avg(label) * 1e4 + 0.5) / 1e4 AS acc_r
                FROM c GROUP BY bin),
          o AS (SELECT floor((sum(n * acc_r) / sum(n)) * 1e6 + 0.5) / 1e6 AS obar_r FROM b),
          m AS (SELECT sum(n)::BIGINT AS n, max(obar_r) AS obar_r,
                       floor((sum(n * (conf_r - acc_r) * (conf_r - acc_r)) / sum(n)) * 1e6 + 0.5) / 1e6 AS rel_r,
                       floor((sum(n * (acc_r - obar_r) * (acc_r - obar_r)) / sum(n)) * 1e6 + 0.5) / 1e6 AS res_r
                FROM b CROSS JOIN o),
          u AS (SELECT n, obar_r, rel_r, res_r,
                       floor((obar_r * (1.0 - obar_r)) * 1e6 + 0.5) / 1e6 AS unc_r
                FROM m)
          SELECT n, obar_r, rel_r, res_r, unc_r,
                 floor((rel_r - res_r + unc_r) * 1e6 + 0.5) / 1e6 AS brier_r
          FROM u"""),

    // -- inter-annotator agreement (Cohen's kappa) between two cheap
    //    quality raters: the hashed linear classifier (score>0) vs the
    //    mostly-alphabetic rule — chance-corrected agreement from the
    //    2×2 confusion counts, one map-side-scored aggregate, single row.
    //    The "are my weak labelers actually measuring the same thing?"
    //    check run before trusting either as training-filter truth.
    QueryDef("q_rater_kappa", (s, dir) => {
      val ws = split(col("text"), "\\s+")
      val rated = t(s, dir, "documents").select(
        (round(TextAnalysis.hashedLinearScore(col("text"), buckets = 512), 6) > 0.0)
          .cast("int").as("r1"),
        (size(filter(ws, x => x.rlike("[A-Za-z]"))).cast("double")
          / size(ws).cast("double") >= 0.8).cast("int").as("r2"))
      operators.Stats.cohenKappa(rated, "r1", "r2")
    },
      // kappa from the rounded po/pe, mirroring the Spark arithmetic exactly
      s"""WITH $ToksArrCte,
          base AS (SELECT
                     (CASE WHEN len(t.toks) = 0 THEN 0.0
                           ELSE floor((list_sum(list_transform(t.toks,
                                  w -> (('0x' || substr(md5(w), 1, 8))::BIGINT % 512) % 101 - 50))::DOUBLE
                                / (50.0 * len(t.toks))) * 1e6 + 0.5) / 1e6 END > 0.0)::INT AS r1,
                     (len(list_filter(regexp_split_to_array(d.text, '\\s+'),
                          x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
                      / len(regexp_split_to_array(d.text, '\\s+')) >= 0.8)::INT AS r2
                   FROM documents d JOIN toks_arr t USING (doc_id)),
          c AS (SELECT count(*)::BIGINT AS n,
                       sum((r1 = 1 AND r2 = 1)::INT)::BIGINT AS n11,
                       sum((r1 = 1 AND r2 = 0)::INT)::BIGINT AS n10,
                       sum((r1 = 0 AND r2 = 1)::INT)::BIGINT AS n01,
                       sum((r1 = 0 AND r2 = 0)::INT)::BIGINT AS n00
                FROM base),
          p AS (SELECT n, n11, n10, n01, n00,
                       floor(((n11 + n00)::DOUBLE / n) * 1e6 + 0.5) / 1e6 AS po_r,
                       floor((((n11 + n10) * (n11 + n01)
                               + (n01 + n00) * (n10 + n00))::DOUBLE
                              / (n::DOUBLE * n)) * 1e6 + 0.5) / 1e6 AS pe_r
                FROM c)
          SELECT n, n11, n10, n01, n00, po_r, pe_r,
                 floor(((po_r - pe_r) / (1.0 - pe_r)) * 1e6 + 0.5) / 1e6 AS kappa_r
          FROM p"""),

    // -- fill-in-the-middle (PSM) transform: two md5-deterministic cuts
    //    per doc, middle moved behind the sentinels — the code-model
    //    pretraining rearrangement, map-side only, every cut replayable
    QueryDef("q_fim", (s, dir) =>
      operators.Denoise.fim(t(s, dir, "documents")).orderBy("doc_id"),
      // FIM mirror: identical 13-hex/2^52 cut draws, inclusive-slice
      // sections, sentinel layout byte-for-byte
      s"""WITH $ToksArrCte,
          c AS (SELECT doc_id, toks, len(toks) AS n,
                 floor((('0x' || substr(md5('fim:a:' || doc_id::VARCHAR), 1, 13))::BIGINT
                        / 4503599627370496.0) * (len(toks) + 1))::INT AS c1,
                 floor((('0x' || substr(md5('fim:b:' || doc_id::VARCHAR), 1, 13))::BIGINT
                        / 4503599627370496.0) * (len(toks) + 1))::INT AS c2
                FROM toks_arr),
          s AS (SELECT doc_id, toks, n, least(c1, c2) AS lo, greatest(c1, c2) AS hi FROM c)
          SELECT doc_id, n::BIGINT AS n_tokens, lo::BIGINT AS n_prefix,
                 (hi - lo)::BIGINT AS n_middle, (n - hi)::BIGINT AS n_suffix,
                 '<PRE> ' || coalesce(array_to_string(toks[1:lo], ' '), '')
                 || ' <SUF> ' || coalesce(array_to_string(toks[hi + 1:n], ' '), '')
                 || ' <MID> ' || coalesce(array_to_string(toks[lo + 1:hi], ' '), '') AS psm
          FROM s ORDER BY doc_id"""),

    // -- T5 span corruption: ~15% of tokens masked in mean-3 spans,
    //    sentinel per merged run, (input, target) pair per doc — the
    //    denoising-objective data generator; DenoiseSpec pins that
    //    splicing target spans over input sentinels reconstructs the doc
    QueryDef("q_span_corrupt", (s, dir) =>
      operators.Denoise.spanCorrupt(t(s, dir, "documents")).orderBy("doc_id"),
      // span-corruption mirror: per-position digests (start: 13 hex, len:
      // 3 hex mod 5), coverage unnest + distinct merge, per-doc run
      // numbering, FILTERed ordered string_agg for both sides
      s"""WITH $ToksArrCte,
          p AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) - 1 AS pos, unnest(toks) AS w
                FROM toks_arr),
          d AS (SELECT doc_id, pos, w,
                       md5('t5:' || doc_id::VARCHAR || ':' || pos::VARCHAR) AS dg
                FROM p),
          dr AS (SELECT doc_id, pos, w,
                        (('0x' || substr(dg, 1, 13))::BIGINT / 4503599627370496.0) < 0.05
                          AS st,
                        (('0x' || substr(dg, 14, 3))::BIGINT % 5) + 1 AS ln
                 FROM d),
          mk AS (SELECT DISTINCT doc_id, unnest(range(pos, pos + ln)) AS pos
                 FROM dr WHERE st),
          fl AS (SELECT dr.doc_id, dr.pos, dr.w, (mk.pos IS NOT NULL) AS m
                 FROM dr LEFT JOIN mk ON mk.doc_id = dr.doc_id AND mk.pos = dr.pos),
          rn AS (SELECT doc_id, pos, w, m,
                        CASE WHEN m AND NOT coalesce(
                               lag(m) OVER (PARTITION BY doc_id ORDER BY pos), FALSE)
                             THEN 1 ELSE 0 END AS rs
                 FROM fl),
          rr AS (SELECT doc_id, pos, w, m, rs,
                        (sum(rs) OVER (PARTITION BY doc_id ORDER BY pos) - rs) AS rid
                 FROM rn),
          pieces AS (SELECT doc_id, pos, m, rs,
                            CASE WHEN NOT m THEN w
                                 WHEN rs = 1 THEN '<X' || rid::VARCHAR || '>' END AS ip,
                            CASE WHEN m AND rs = 1 THEN '<X' || rid::VARCHAR || '> ' || w
                                 WHEN m THEN w END AS tp
                     FROM rr)
          SELECT doc_id, count(*)::BIGINT AS n_tokens,
                 sum(m::INT)::BIGINT AS n_masked, sum(rs)::BIGINT AS n_runs,
                 coalesce(string_agg(ip, ' ' ORDER BY pos) FILTER (WHERE ip IS NOT NULL), '')
                   AS input_str,
                 coalesce(string_agg(tp, ' ' ORDER BY pos) FILTER (WHERE tp IS NOT NULL), '')
                   AS target_str
          FROM pieces GROUP BY doc_id ORDER BY doc_id"""),

    // -- corpus BLEU-4 of even docs "generated" against their odd-doc
    //    references (doc 2k candidate vs doc 2k+1 reference): clipped
    //    n-gram precisions + brevity penalty — the generation-eval
    //    standard beside the ranking/classifier evals
    QueryDef("q_eval_bleu", (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val pairs = d.where(col("doc_id") % 2 === 0)
        .select((col("doc_id") / 2).cast("long").as("pid"), col("text").as("cand"))
        .join(
          d.where(col("doc_id") % 2 === 1)
            .select(((col("doc_id") - 1) / 2).cast("long").as("pid"),
              col("text").as("ref")),
          Seq("pid"))
      operators.TextEval.bleuCorpus(pairs, "cand", "ref", "pid", maxN = 4)
    },
      // corpus BLEU-4 mirror: same even/odd pairing, clipped n-gram joins,
      // integer totals, 6dp precisions, guarded ln/exp on rounded scalars
      s"""WITH $ToksArrCte,
          prs AS (SELECT (a.doc_id // 2)::BIGINT AS pid, a.toks AS ct, b.toks AS rt
                  FROM toks_arr a JOIN toks_arr b ON b.doc_id = a.doc_id + 1
                  WHERE a.doc_id % 2 = 0),
          ns AS (SELECT unnest([1, 2, 3, 4]) AS n),
          cg AS (SELECT pid, n, g, count(*)::BIGINT AS c FROM (
                   SELECT pid, ns.n AS n,
                          unnest(CASE WHEN len(ct) >= ns.n
                                 THEN list_transform(range(1, len(ct) - ns.n + 2),
                                      i -> array_to_string(list_slice(ct, i, i + ns.n - 1), ' '))
                                 ELSE []::VARCHAR[] END) AS g
                   FROM prs CROSS JOIN ns) GROUP BY 1, 2, 3),
          rg AS (SELECT pid, n, g, count(*)::BIGINT AS c FROM (
                   SELECT pid, ns.n AS n,
                          unnest(CASE WHEN len(rt) >= ns.n
                                 THEN list_transform(range(1, len(rt) - ns.n + 2),
                                      i -> array_to_string(list_slice(rt, i, i + ns.n - 1), ' '))
                                 ELSE []::VARCHAR[] END) AS g
                   FROM prs CROSS JOIN ns) GROUP BY 1, 2, 3),
          mt AS (SELECT cg.n AS n, sum(least(cg.c, rg.c))::BIGINT AS m
                 FROM cg JOIN rg ON rg.pid = cg.pid AND rg.n = cg.n AND rg.g = cg.g
                 GROUP BY 1),
          tot AS (SELECT ns.n AS n, sum(greatest(len(ct) - ns.n + 1, 0))::BIGINT AS tot
                  FROM prs CROSS JOIN ns GROUP BY 1),
          p AS (SELECT n,
                       CASE WHEN tot > 0
                            THEN floor((coalesce(m, 0)::DOUBLE / tot::DOUBLE) * 1e6 + 0.5) / 1e6
                            ELSE 0.0 END AS p
                FROM tot LEFT JOIN mt USING (n)),
          pw AS (SELECT max(CASE WHEN n = 1 THEN p END) AS p1_r,
                        max(CASE WHEN n = 2 THEN p END) AS p2_r,
                        max(CASE WHEN n = 3 THEN p END) AS p3_r,
                        max(CASE WHEN n = 4 THEN p END) AS p4_r
                 FROM p),
          lens AS (SELECT sum(len(ct))::BIGINT AS c_len, sum(len(rt))::BIGINT AS r_len FROM prs),
          b AS (SELECT c_len, r_len,
                       CASE WHEN c_len >= r_len OR c_len = 0 THEN 1.0
                            ELSE floor(exp(1.0 - r_len::DOUBLE / c_len::DOUBLE) * 1e6 + 0.5) / 1e6
                       END AS bp_r,
                       p1_r, p2_r, p3_r, p4_r
                FROM lens CROSS JOIN pw)
          SELECT c_len, r_len, bp_r, p1_r, p2_r, p3_r, p4_r,
                 CASE WHEN p1_r <= 0 OR p2_r <= 0 OR p3_r <= 0 OR p4_r <= 0 OR c_len = 0 THEN 0.0
                      ELSE floor(bp_r * exp((ln(p1_r) + ln(p2_r) + ln(p3_r) + ln(p4_r)) / 4.0)
                                 * 1e6 + 0.5) / 1e6 END AS bleu_r
          FROM b"""),

    // -- per-pair ROUGE-1/2 precision/recall/F1 on the same even/odd doc
    //    pairing — the recall-oriented summarization twin of q_eval_bleu
    QueryDef("q_eval_rouge", (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val pairs = d.where(col("doc_id") % 2 === 0)
        .select((col("doc_id") / 2).cast("long").as("pid"), col("text").as("cand"))
        .join(
          d.where(col("doc_id") % 2 === 1)
            .select(((col("doc_id") - 1) / 2).cast("long").as("pid"),
              col("text").as("ref")),
          Seq("pid"))
      operators.TextEval.rouge12(pairs, "cand", "ref", "pid").orderBy("pid")
    },
      // per-pair ROUGE-1/2 mirror: clipped matches per (pair, n), integer
      // denominators off token lengths, 6dp ratios, zero-guarded F1
      s"""WITH $ToksArrCte,
          prs AS (SELECT (a.doc_id // 2)::BIGINT AS pid, a.toks AS ct, b.toks AS rt
                  FROM toks_arr a JOIN toks_arr b ON b.doc_id = a.doc_id + 1
                  WHERE a.doc_id % 2 = 0),
          ns AS (SELECT unnest([1, 2]) AS n),
          cg AS (SELECT pid, n, g, count(*)::BIGINT AS c FROM (
                   SELECT pid, ns.n AS n,
                          unnest(CASE WHEN len(ct) >= ns.n
                                 THEN list_transform(range(1, len(ct) - ns.n + 2),
                                      i -> array_to_string(list_slice(ct, i, i + ns.n - 1), ' '))
                                 ELSE []::VARCHAR[] END) AS g
                   FROM prs CROSS JOIN ns) GROUP BY 1, 2, 3),
          rg AS (SELECT pid, n, g, count(*)::BIGINT AS c FROM (
                   SELECT pid, ns.n AS n,
                          unnest(CASE WHEN len(rt) >= ns.n
                                 THEN list_transform(range(1, len(rt) - ns.n + 2),
                                      i -> array_to_string(list_slice(rt, i, i + ns.n - 1), ' '))
                                 ELSE []::VARCHAR[] END) AS g
                   FROM prs CROSS JOIN ns) GROUP BY 1, 2, 3),
          mt AS (SELECT cg.pid AS pid, cg.n AS n, sum(least(cg.c, rg.c))::BIGINT AS m
                 FROM cg JOIN rg ON rg.pid = cg.pid AND rg.n = cg.n AND rg.g = cg.g
                 GROUP BY 1, 2),
          base AS (SELECT pid, len(ct)::BIGINT AS cl, len(rt)::BIGINT AS rl FROM prs),
          j AS (SELECT b.pid, b.cl, b.rl,
                       coalesce(m1.m, 0)::BIGINT AS m1, coalesce(m2.m, 0)::BIGINT AS m2
                FROM base b
                LEFT JOIN mt m1 ON m1.pid = b.pid AND m1.n = 1
                LEFT JOIN mt m2 ON m2.pid = b.pid AND m2.n = 2),
          r AS (SELECT pid,
                 CASE WHEN cl > 0 THEN floor((m1::DOUBLE / cl::DOUBLE) * 1e6 + 0.5) / 1e6 ELSE 0.0 END AS rouge1_p,
                 CASE WHEN rl > 0 THEN floor((m1::DOUBLE / rl::DOUBLE) * 1e6 + 0.5) / 1e6 ELSE 0.0 END AS rouge1_r,
                 CASE WHEN greatest(cl - 1, 0) > 0
                      THEN floor((m2::DOUBLE / greatest(cl - 1, 0)::DOUBLE) * 1e6 + 0.5) / 1e6
                      ELSE 0.0 END AS rouge2_p,
                 CASE WHEN greatest(rl - 1, 0) > 0
                      THEN floor((m2::DOUBLE / greatest(rl - 1, 0)::DOUBLE) * 1e6 + 0.5) / 1e6
                      ELSE 0.0 END AS rouge2_r
                FROM j)
          SELECT pid, rouge1_p, rouge1_r,
                 CASE WHEN rouge1_p + rouge1_r > 0
                      THEN floor((2.0 * rouge1_p * rouge1_r / (rouge1_p + rouge1_r)) * 1e6 + 0.5) / 1e6
                      ELSE 0.0 END AS rouge1_f,
                 rouge2_p, rouge2_r,
                 CASE WHEN rouge2_p + rouge2_r > 0
                      THEN floor((2.0 * rouge2_p * rouge2_r / (rouge2_p + rouge2_r)) * 1e6 + 0.5) / 1e6
                      ELSE 0.0 END AS rouge2_f
          FROM r ORDER BY pid"""),

    // -- DP-shaped noisy release of per-lang doc counts: sensitivity-1
    //    count + Laplace(1/ε) via a deterministic per-cell inverse-CDF
    //    draw (real DP = secret salt; the mechanism dataflow is what's
    //    pinned). Clamped at zero. Protects the OUTPUT where
    //    k-anon/l-diversity audit the data.
    QueryDef("q_dp_counts", (s, dir) =>
      operators.Stats.dpNoisyCounts(t(s, dir, "documents"), "lang", eps = 1.0)
        .orderBy("lang"),
      // same md5-uniform → inverse-CDF Laplace draw, clamped release
      """WITH g AS (SELECT lang, count(*)::BIGINT AS n FROM documents GROUP BY lang),
          d AS (SELECT lang, n,
                       greatest(('0x' || substr(md5('dp:' || lang), 1, 13))::BIGINT
                                / 4503599627370496.0, pow(2.0, -52)) AS u
                FROM g),
          m AS (SELECT lang, n,
                       floor((-1.0 * sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5))) * 1e4 + 0.5) / 1e4 AS noise_r
                FROM d)
          SELECT lang, n, noise_r,
                 floor((greatest(n + noise_r, 0.0)) * 1e4 + 0.5) / 1e4 AS released_r
          FROM m ORDER BY lang"""),

    // -- Benford first-digit audit on prices: observed vs log10(1+1/d),
    //    χ² riding the rows; digit via INTEGER string math (log10 would
    //    misbin powers of 10 cross-engine). The data-forensics classic.
    QueryDef("q_benford", (s, dir) =>
      operators.Stats.benford(t(s, dir, "lineitem"), "l_extendedprice").orderBy("digit"),
      benfordSql),

    // -- functional-dependency profiling: candidate FDs checked by one
    //    partial-agg groupBy each — violating-group counts say HOW broken
    //    a near-FD is, not just that it is
    QueryDef("q_fd_check", (s, dir) => {
      val o = t(s, dir, "orders"); val li = t(s, dir, "lineitem"); val n = t(s, dir, "nation")
      operators.Stats.fdCheck(o, "o_orderkey", "o_custkey")
        .unionByName(operators.Stats.fdCheck(n, "n_nationkey", "n_regionkey"))
        .unionByName(operators.Stats.fdCheck(o, "o_custkey", "o_orderpriority"))
        .unionByName(operators.Stats.fdCheck(li, "l_partkey", "l_suppkey"))
        .orderBy("fd")
    },
      s"""SELECT * FROM (
            ${fdSql("orders", "o_orderkey", "o_custkey")}
            UNION ALL ${fdSql("nation", "n_nationkey", "n_regionkey")}
            UNION ALL ${fdSql("orders", "o_custkey", "o_orderpriority")}
            UNION ALL ${fdSql("lineitem", "l_partkey", "l_suppkey")}) u
          ORDER BY fd"""),

    // -- unique-column-combination (candidate-key) discovery: fdCheck's
    //    profiling twin — per candidate set, one partial-agg groupBy;
    //    duplicate-group count + max multiplicity grade HOW non-unique a
    //    near-key is. True keys (orderkey; orderkey+linenumber) and
    //    non-keys (custkey; partkey+suppkey) both covered.
    QueryDef("q_ucc_discovery", (s, dir) => {
      val o = t(s, dir, "orders"); val li = t(s, dir, "lineitem")
      operators.Stats.uccCheck(o, Seq("o_orderkey"))
        .unionByName(operators.Stats.uccCheck(o, Seq("o_custkey")))
        .unionByName(operators.Stats.uccCheck(li, Seq("l_orderkey", "l_linenumber")))
        .unionByName(operators.Stats.uccCheck(li, Seq("l_partkey", "l_suppkey")))
        .orderBy("ucc")
    },
      s"""SELECT * FROM (
            ${uccSql("orders", Seq("o_orderkey"))}
            UNION ALL ${uccSql("orders", Seq("o_custkey"))}
            UNION ALL ${uccSql("lineitem", Seq("l_orderkey", "l_linenumber"))}
            UNION ALL ${uccSql("lineitem", Seq("l_partkey", "l_suppkey"))}) u
          ORDER BY ucc"""),

    // -- inclusion-dependency (foreign-key) discovery: distinct-project
    //    each side + one anti join per candidate — orphan counts, never
    //    row-sized; includes the REVERSE direction that fails (orders
    //    without lineitems)
    QueryDef("q_fk_discovery", (s, dir) => {
      val o = t(s, dir, "orders"); val li = t(s, dir, "lineitem")
      val c = t(s, dir, "customer"); val n = t(s, dir, "nation")
      operators.Stats.inclusionCheck(li, "l_orderkey", o, "o_orderkey")
        .unionByName(operators.Stats.inclusionCheck(o, "o_custkey", c, "c_custkey"))
        .unionByName(operators.Stats.inclusionCheck(c, "c_nationkey", n, "n_nationkey"))
        .unionByName(operators.Stats.inclusionCheck(o, "o_orderkey", li, "l_orderkey"))
        .orderBy("ind")
    },
      s"""SELECT * FROM (
            ${indSql("lineitem", "l_orderkey", "orders", "o_orderkey")}
            UNION ALL ${indSql("orders", "o_custkey", "customer", "c_custkey")}
            UNION ALL ${indSql("customer", "c_nationkey", "nation", "n_nationkey")}
            UNION ALL ${indSql("orders", "o_orderkey", "lineitem", "l_orderkey")}) u
          ORDER BY ind"""),

    // -- approximate query processing: Horvitz–Thompson revenue estimate
    //    from a deterministic 10% sample (md5-threshold draw, weight 1/p)
    //    beside the exact total — the AQP accuracy dial measured, not
    //    assumed. One scan computes both here for the audit; production
    //    scans ONLY the sample (10× less IO for ~0.3% error at this SF).
    QueryDef("q_aqp_revenue", (s, dir) => {
      val p = 0.1
      val ins = Sampling.sampleHash(
        concat_ws(":", col("l_orderkey"), col("l_linenumber")), "aqp") <
        lit(Sampling.threshold(p))
      t(s, dir, "lineitem")
        .withColumn("rev", col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .agg(
          count(lit(1)).as("n_total"),
          sum(when(ins, 1L).otherwise(0L)).as("n_sample"),
          round(sum(col("rev")), 2).as("exact_r"),
          round(sum(when(ins, col("rev")).otherwise(lit(0.0))) / p, 2).as("est_r"))
        .withColumn("rel_err_r",
          round(abs(col("est_r") - col("exact_r")) / col("exact_r"), 6))
        .select("n_total", "n_sample", "exact_r", "est_r", "rel_err_r")
    },
      // same md5-threshold draw; relative error from the ROUNDED estimates
      s"""WITH s AS (SELECT l_extendedprice * (1.0 - l_discount) AS rev,
                            (('0x' || substr(md5('aqp:' || l_orderkey::VARCHAR || ':' || l_linenumber::VARCHAR), 1, 8))::BIGINT
                             < ${Sampling.threshold(0.1)}) AS ins
                     FROM lineitem),
          a AS (SELECT count(*)::BIGINT AS n_total,
                       sum(CASE WHEN ins THEN 1 ELSE 0 END)::BIGINT AS n_sample,
                       floor((sum(rev)) * 1e2 + 0.5) / 1e2 AS exact_r,
                       floor((sum(CASE WHEN ins THEN rev ELSE 0.0 END) / 0.1) * 1e2 + 0.5) / 1e2 AS est_r
                FROM s)
          SELECT n_total, n_sample, exact_r, est_r,
                 floor((abs(est_r - exact_r) / exact_r) * 1e6 + 0.5) / 1e6 AS rel_err_r
          FROM a"""),

    // -- Population Stability Index between the even-id (reference) and
    //    odd-id (current) document halves on n_chars, 10 reference-
    //    quantile bins: the deployment drift dial with per-bin terms
    //    localizing WHICH quantile band moved. Laplace-smoothed rational
    //    shares; psi from the ROUNDED per-bin terms.
    QueryDef("q_psi_drift", (s, dir) => {
      val docs = t(s, dir, "documents")
      operators.Stats
        .psi(docs.where(col("doc_id") % 2 === 0), docs.where(col("doc_id") % 2 === 1),
          "n_chars", bins = 10)
        .orderBy("bin")
    },
      // reference-side quantile_cont boundaries (the q_histogram_equidepth
      // pin), Laplace-smoothed rational shares, psi from ROUNDED terms
      """WITH b AS (SELECT list_transform(
                             quantile_cont(n_chars, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
                             x -> floor(x * 1e6 + 0.5) / 1e6) AS bs
                    FROM documents WHERE doc_id % 2 = 0),
          rb AS (SELECT len(list_filter(bs, x -> x <= n_chars))::INT AS bin, count(*) AS n
                 FROM documents CROSS JOIN b WHERE doc_id % 2 = 0 GROUP BY 1),
          cb AS (SELECT len(list_filter(bs, x -> x <= n_chars))::INT AS bin, count(*) AS n
                 FROM documents CROSS JOIN b WHERE doc_id % 2 = 1 GROUP BY 1),
          bins AS (SELECT unnest(range(10))::INT AS bin),
          j AS (SELECT bins.bin, coalesce(rb.n, 0) AS n_ref, coalesce(cb.n, 0) AS n_cur
                FROM bins LEFT JOIN rb USING (bin) LEFT JOIN cb USING (bin)),
          t AS (SELECT sum(n_ref) AS tr, sum(n_cur) AS tc FROM j),
          terms AS (SELECT bin, n_ref, n_cur,
                           floor((((n_cur + 1)::DOUBLE / (tc + 10) - (n_ref + 1)::DOUBLE / (tr + 10))
                                  * ln(((n_cur + 1)::DOUBLE / (tc + 10))
                                       / ((n_ref + 1)::DOUBLE / (tr + 10)))) * 1e6 + 0.5) / 1e6 AS term_r
                    FROM j CROSS JOIN t)
          SELECT bin, n_ref::BIGINT AS n_ref, n_cur::BIGINT AS n_cur, term_r,
                 (SELECT floor(sum(term_r) * 1e6 + 0.5) / 1e6 FROM terms) AS psi_r
          FROM terms ORDER BY bin"""),

    // -- Spearman rank correlation of quantity vs extended price:
    //    monotone association on exact HALF-INTEGER average ranks (all
    //    sums exact in doubles → deterministic without rounding tricks);
    //    ranks via the ksTest chunked-prefix form — no full-table sort
    QueryDef("q_spearman", (s, dir) => {
      operators.Stats.spearman(t(s, dir, "lineitem"), "l_quantity", "l_extendedprice")
    },
      // average ranks from distinct-value cumulative counts (ties share the
      // mean rank); all rank sums exact half-integers — same formula order
      """WITH d AS (SELECT l_quantity::DOUBLE AS x, l_extendedprice::DOUBLE AS y FROM lineitem
                    WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
          rx AS (SELECT x AS v, count(*) AS c FROM d GROUP BY x),
          rx2 AS (SELECT v, (sum(c) OVER (ORDER BY v) - c) + (c + 1) / 2.0 AS r FROM rx),
          ry AS (SELECT y AS v, count(*) AS c FROM d GROUP BY y),
          ry2 AS (SELECT v, (sum(c) OVER (ORDER BY v) - c) + (c + 1) / 2.0 AS r FROM ry),
          j AS (SELECT rx2.r AS ra, ry2.r AS rb
                FROM d JOIN rx2 ON d.x = rx2.v JOIN ry2 ON d.y = ry2.v),
          s AS (SELECT count(*)::BIGINT AS n, sum(ra) AS sa, sum(rb) AS sb,
                       sum(ra * ra) AS saa, sum(rb * rb) AS sbb, sum(ra * rb) AS sab
                FROM j)
          SELECT n, floor(((n * sab - sa * sb)
                           / sqrt((n * saa - sa * sa) * (n * sbb - sb * sb))) * 1e6 + 0.5) / 1e6 AS rho_r
          FROM s"""),

    // -- QQ drift table: exact deciles of n_chars, even-id snapshot vs
    //    odd-id, aligned with per-decile deltas — PSI's complement in
    //    VALUE space ("p90 length grew 400 chars" is actionable where a
    //    PSI term is not)
    QueryDef("q_qq_drift", (s, dir) => {
      val docs = t(s, dir, "documents")
      operators.Stats
        .qqDrift(docs.where(col("doc_id") % 2 === 0), docs.where(col("doc_id") % 2 === 1),
          "n_chars", bins = 10)
        .orderBy("decile")
    },
      // positional zip of the two quantile_cont arrays; delta from the
      // ROUNDED quantiles
      """WITH r AS (SELECT quantile_cont(n_chars, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qr
                    FROM documents WHERE doc_id % 2 = 0),
          c AS (SELECT quantile_cont(n_chars, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qc
                FROM documents WHERE doc_id % 2 = 1),
          z AS (SELECT generate_subscripts(qr, 1)::INT AS decile,
                       unnest(qr) AS rv, unnest(qc) AS cv
                FROM r CROSS JOIN c),
          m AS (SELECT decile,
                       floor(rv * 1e4 + 0.5) / 1e4 AS ref_q_r,
                       floor(cv * 1e4 + 0.5) / 1e4 AS cur_q_r
                FROM z)
          SELECT decile, ref_q_r, cur_q_r,
                 floor((cur_q_r - ref_q_r) * 1e4 + 0.5) / 1e4 AS delta_r
          FROM m ORDER BY decile"""),

    // -- deterministic Poisson-bootstrap CI on the per-lang mean length:
    //    error bars for a reported metric, md5 weights so every replica
    //    mean (and hence the interval) replays exactly — integer
    //    weights × integer values keep all replica sums exact
    QueryDef("q_bootstrap_ci", (s, dir) => {
      operators.Stats
        .bootstrapMeanCi(t(s, dir, "documents").select("doc_id", "lang", "n_chars"),
          "lang", "n_chars", "doc_id", b = 32)
        .orderBy("lang")
    },
      bootstrapSql),

    // -- Welch's unequal-variance t-test between every source pair on
    //    document length: the A/B significance check with mean/variance
    //    derived from EXACT decimal sums, so no float partial-agg order
    //    can flip a bit — one grouped scan + a groups²-sized self-join.
    QueryDef("q_welch_ttest", (s, dir) => {
      operators.Stats
        .welchTTest(t(s, dir, "documents"), "source", "n_chars")
        .orderBy("g1", "g2")
    },
      // mean/variance from EXACT integer sums (s1, s2) — the scalar double
      // arithmetic then replays identically; same op order as the Spark side
      """WITH g AS (SELECT source AS g, count(*)::BIGINT AS n,
                           sum(n_chars::HUGEINT)::DOUBLE AS s1d,
                           sum((n_chars::HUGEINT) * (n_chars::HUGEINT))::DOUBLE AS s2d
                    FROM documents GROUP BY source
                    HAVING count(*) >= 2),
          s AS (SELECT g, n, s1d / n AS m,
                       (s2d - s1d * s1d / n) / (n - 1) AS v
                FROM g)
          SELECT a.g AS g1, b.g AS g2, a.n AS n1, b.n AS n2,
                 floor((a.m - b.m) * 1e4 + 0.5) / 1e4 AS diff_r,
                 -- (WHERE below mirrors the zero-combined-variance drop)
                 floor(((a.m - b.m) / sqrt(a.v / a.n + b.v / b.n)) * 1e4 + 0.5) / 1e4 AS t_r,
                 floor(((a.v / a.n + b.v / b.n) * (a.v / a.n + b.v / b.n)
                        / ((a.v / a.n) * (a.v / a.n) / (a.n - 1)
                           + (b.v / b.n) * (b.v / b.n) / (b.n - 1))) * 1e2 + 0.5) / 1e2 AS df_r
          FROM s a JOIN s b ON a.g < b.g
          WHERE a.v / a.n + b.v / b.n > 0.0
          ORDER BY g1, g2"""),

    // -- rank-1 implicit-feedback ALS over the customer×part quantity
    //    matrix (2 full rounds from v≡1): factors quantized to 6-dp
    //    scaled longs between half-steps so every solver aggregate is an
    //    exact decimal sum — the item score that ranks "bought by
    //    high-engagement buyers", not just "bought a lot"
    QueryDef("q_als_rank1", (s, dir) => {
      val ratings = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_custkey"), col("l_partkey"))
        .agg(sum(col("l_quantity").cast("long")).as("rt"))
      operators.Recommend
        .alsRank1(ratings, "o_custkey", "l_partkey", "rt", iters = 2)
        .orderBy("l_partkey")
    },
      // unrolled 2-round rank-1 ALS (mirror of Recommend.alsRank1):
      // quantized scaled-long factors, exact HUGEINT solver sums
      alsSql(iters = 2),
      Some(Iteration(
        "bounded-rounds: fixed ALS half-step budget — the objective " +
          "decreases monotonically but factor values move every round (no count fixpoint " +
          "exists); iters is the declared training budget (Recommend.alsRank1)",
        // round 14: one ALS half-step — solve one side's factors against
        // the other's quantized table; the real loop checkpoints each
        // half-step, so the broadcast factor join + partial-agg decimal
        // sums are what must stay scale-shaped
        (s, dir) => {
          val r = s.read.parquet(s"$dir/orders.parquet")
            .join(s.read.parquet(s"$dir/lineitem.parquet"),
              col("o_orderkey") === col("l_orderkey"))
            .groupBy(col("o_custkey").as("__u"), col("l_partkey").as("__i"))
            .agg(sum(col("l_quantity").cast("long")).as("__r"))
          val v = r.select(col("__i").as("__k")).distinct()
            .withColumn("__f6", lit(1000000L))
          graft.operators.Recommend.alsHalfStep(r, "__u", v, "__i")
        }))),

    // -- Kruskal–Wallis rank ANOVA across return flags on l_quantity:
    //    the distribution-free H (+ tie-corrected H') — pooled average
    //    ranks from the value-domain aggregate via the chunked-prefix
    //    discipline, half-integer-exact sufficient sums
    QueryDef("q_kruskal_wallis", (s, dir) => {
      operators.Stats
        .kruskalWallis(t(s, dir, "lineitem"), "l_returnflag", "l_quantity",
          chunkWidth = 10.0)
    },
      // pooled half-integer average ranks from the per-value aggregate;
      // H from exact sums in the operator's op order, H' from ROUNDED h_r
      """WITH r0 AS (SELECT l_returnflag AS g, l_quantity::DOUBLE AS v FROM lineitem
                     WHERE l_returnflag IS NOT NULL AND l_quantity IS NOT NULL),
          gv AS (SELECT g, v, count(*) AS cgv FROM r0 GROUP BY 1, 2),
          pv AS (SELECT v, sum(cgv)::BIGINT AS c FROM gv GROUP BY v),
          rk AS (SELECT v, c,
                        (sum(c) OVER (ORDER BY v
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c)::DOUBLE
                          + (c + 1)::DOUBLE / 2.0 AS rnk
                 FROM pv),
          pg AS (SELECT g, sum(cgv)::BIGINT AS ng, sum(cgv::DOUBLE * rk.rnk) AS rg
                 FROM gv JOIN rk USING (v) GROUP BY g),
          tt AS (SELECT sum(c::HUGEINT * c * c - c) AS t FROM pv),
          ag AS (SELECT sum(ng)::BIGINT AS n, count(*)::BIGINT AS k_groups,
                        sum(rg * rg / ng::DOUBLE) AS sr
                 FROM pg),
          h AS (SELECT n, k_groups,
                       floor((12.0 / (n::DOUBLE * (n + 1)::DOUBLE) * sr
                              - 3.0 * (n + 1)::DOUBLE) * 1e6 + 0.5) / 1e6 AS h_r,
                       t
                FROM ag CROSS JOIN tt)
          SELECT n, k_groups, h_r,
                 floor((CASE WHEN t::DOUBLE < n::DOUBLE * n::DOUBLE * n::DOUBLE - n::DOUBLE
                        THEN h_r / (1.0 - t::DOUBLE
                               / (n::DOUBLE * n::DOUBLE * n::DOUBLE - n::DOUBLE))
                        ELSE NULL END) * 1e6 + 0.5) / 1e6 AS h_tie_r
          FROM h"""),

    // -- Mann–Kendall monotone-trend z per nation over the MONTHLY
    //    revenue series: pairwise signs on exact decimal sums, pair
    //    count bounded by the calendar (80 months), never the corpus
    QueryDef("q_mann_kendall", (s, dir) => {
      operators.Stats
        .mannKendall(nationMonthlyRevenue(s, dir), "nation", "mth", "rev")
        .orderBy("nation")
    },
      // pairwise signs on exact decimal month sums; integer S and tie
      // terms, one fixed-order z expression
      s"""WITH $NationMonthlyCte,
          p AS (SELECT a.nation, sum(sign(b.rev - a.rev))::BIGINT AS s
                FROM ser a JOIN ser b ON a.nation = b.nation AND a.mth < b.mth
                GROUP BY a.nation),
          g AS (SELECT nation, count(*)::BIGINT AS n FROM ser GROUP BY nation),
          tc AS (SELECT nation, sum(c * (c - 1) * (2 * c + 5))::BIGINT AS tt
                 FROM (SELECT nation, rev, count(*) AS c FROM ser GROUP BY 1, 2) q
                 GROUP BY nation),
          v AS (SELECT g.nation, g.n, p.s,
                       (g.n::DOUBLE * (g.n - 1)::DOUBLE * (2 * g.n + 5)::DOUBLE
                          - tc.tt::DOUBLE) / 18.0 AS vr
                FROM g JOIN p USING (nation) JOIN tc USING (nation))
          SELECT nation, n, s,
                 floor((CASE WHEN vr > 0.0 THEN
                          CASE WHEN s > 0 THEN (s - 1)::DOUBLE / sqrt(vr)
                               WHEN s < 0 THEN (s + 1)::DOUBLE / sqrt(vr)
                               ELSE 0.0 END
                        ELSE NULL END) * 1e6 + 0.5) / 1e6 AS z_r
          FROM v ORDER BY nation"""),

    // -- Cochran–Mantel–Haenszel stratified test: does high priority
    //    associate with big orders CONTROLLING for market segment —
    //    pooled chi2 + MH odds ratio + the Simpson flip count (strata
    //    whose association runs opposite the collapsed table's)
    QueryDef("q_cmh", (s, dir) => {
      val o = t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("seg"),
          col("o_orderpriority").isin("1-URGENT", "2-HIGH").as("hi_pri"),
          (col("o_totalprice") > 150000).as("big"))
      operators.Stats.cmhTest(o, "seg", "hi_pri", "big")
    },
      // exact integer cells; per-stratum E/V/OR terms 6dp-rounded then
      // 1e6-scaled HUGEINT sums; diffs rounded before the sign test
      // (mirror of Stats.cmhTest)
      """WITH rows_ AS (
           SELECT c_mktsegment AS s,
                  o_orderpriority IN ('1-URGENT', '2-HIGH') AS x,
                  o_totalprice > 150000 AS y
           FROM orders JOIN customer ON o_custkey = c_custkey),
         cells AS (
           SELECT s,
                  sum(CASE WHEN x AND y THEN 1 ELSE 0 END)::BIGINT AS a,
                  sum(CASE WHEN x AND NOT y THEN 1 ELSE 0 END)::BIGINT AS b,
                  sum(CASE WHEN NOT x AND y THEN 1 ELSE 0 END)::BIGINT AS c,
                  sum(CASE WHEN NOT x AND NOT y THEN 1 ELSE 0 END)::BIGINT AS d
           FROM rows_ WHERE s IS NOT NULL AND x IS NOT NULL AND y IS NOT NULL
           GROUP BY 1),
         t1 AS (
           SELECT *, (a + b)::DOUBLE AS n1, (c + d)::DOUBLE AS n0,
                  (a + c)::DOUBLE AS m1, (b + d)::DOUBLE AS m0,
                  (a + b + c + d)::DOUBLE AS td, (a + b + c + d) AS tl
           FROM cells),
         terms AS (
           SELECT *,
                  CASE WHEN tl > 0 THEN floor((n1 * m1 / td) * 1e6 + 0.5)::HUGEINT
                       ELSE 0 END AS e_i,
                  CASE WHEN tl > 1
                       THEN floor((n1 * n0 * m1 * m0 / (td * td * (td - 1.0))) * 1e6 + 0.5)::HUGEINT
                       ELSE 0 END AS v_i,
                  CASE WHEN tl > 0
                       THEN floor((a::DOUBLE * d::DOUBLE / td) * 1e6 + 0.5)::HUGEINT
                       ELSE 0 END AS on_i,
                  CASE WHEN tl > 0
                       THEN floor((b::DOUBLE * c::DOUBLE / td) * 1e6 + 0.5)::HUGEINT
                       ELSE 0 END AS od_i,
                  CASE WHEN a + b > 0 AND c + d > 0
                       THEN floor((a::DOUBLE / n1 - c::DOUBLE / n0) * 1e6 + 0.5) / 1e6
                  END AS diff
           FROM t1),
         ag AS (
           SELECT count(*)::BIGINT AS k, sum(a + b + c + d)::BIGINT AS n,
                  sum(a)::BIGINT AS at_, sum(b)::BIGINT AS bt,
                  sum(c)::BIGINT AS ct, sum(d)::BIGINT AS dt,
                  sum(e_i) AS se, sum(v_i) AS sv, sum(on_i) AS son, sum(od_i) AS sod
           FROM terms),
         ag2 AS (
           SELECT *,
                  CASE WHEN at_ + bt > 0 AND ct + dt > 0
                       THEN floor((at_::DOUBLE / (at_ + bt)::DOUBLE
                                   - ct::DOUBLE / (ct + dt)::DOUBLE) * 1e6 + 0.5) / 1e6
                  END AS agg_diff_r
           FROM ag),
         fl AS (
           SELECT sum(CASE WHEN diff IS NOT NULL AND agg_diff_r IS NOT NULL
                                AND diff * agg_diff_r < 0.0 THEN 1 ELSE 0 END)::BIGINT AS n_flipped
           FROM terms CROSS JOIN ag2)
         SELECT k, n, at_ AS a_total,
                floor((CASE WHEN sv > 0
                       THEN (at_::DOUBLE - se::DOUBLE / 1e6) * (at_::DOUBLE - se::DOUBLE / 1e6)
                            / (sv::DOUBLE / 1e6) END) * 1e4 + 0.5) / 1e4 AS chi2_r,
                floor((CASE WHEN sod > 0
                       THEN (son::DOUBLE / 1e6) / (sod::DOUBLE / 1e6) END) * 1e4 + 0.5) / 1e4 AS or_mh_r,
                agg_diff_r, n_flipped
         FROM ag2 CROSS JOIN fl"""),

    // -- OLS trend diagnostics per nation over the same monthly series:
    //    Durbin–Watson serial correlation of the residuals + max Cook's
    //    distance (which month steers the fit) — trust-the-trend checks
    QueryDef("q_ols_diag", (s, dir) => {
      operators.Stats
        .olsDiagnostics(nationMonthlyRevenue(s, dir), "nation", "mth", "rev")
        .orderBy("nation")
    },
      // slope from exact decimal sums then rounded; intercept from rounded
      // slope; residuals from the rounded pair; DW sums 1e6-scaled HUGEINT;
      // Cook rounds per row before the (cook, mth) argmax
      // (mirror of Stats.olsDiagnostics)
      s"""WITH $NationMonthlyCte,
          per AS (SELECT nation, count(*)::BIGINT AS n,
                         sum(mth)::HUGEINT AS sx, sum(rev) AS sy,
                         sum(mth * rev) AS sxy, sum(mth::HUGEINT * mth) AS sxx
                  FROM ser GROUP BY 1),
          fit AS (SELECT nation, n, sx, sxx, sy, sxy,
                         n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE AS dxx
                  FROM per),
          fit2 AS (SELECT nation, n, sx, sxx, sy,
                          floor(((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE) / dxx)
                                * 1e6 + 0.5) / 1e6 AS b
                   FROM fit WHERE n >= 2 AND dxx > 0.0),
          fit3 AS (SELECT nation, n, sx, sxx, b,
                          floor(((sy::DOUBLE - b * sx::DOUBLE) / n::DOUBLE) * 1e6 + 0.5) / 1e6 AS a
                   FROM fit2),
          rws AS (SELECT ser.nation, mth, n, sx, sxx, b,
                         floor((rev::DOUBLE - (a + b * mth::DOUBLE)) * 1e6 + 0.5) / 1e6 AS e
                  FROM ser JOIN fit3 ON fit3.nation = ser.nation),
          lagd AS (SELECT *, floor(e * 1e6 + 0.5)::HUGEINT AS ei,
                          lag(floor(e * 1e6 + 0.5)::HUGEINT)
                            OVER (PARTITION BY nation ORDER BY mth) AS eli
                   FROM rws),
          ii AS (SELECT *,
                        CASE WHEN eli IS NOT NULL
                             THEN (ei - eli) * (ei - eli) ELSE 0 END AS d_i,
                        ei * ei AS e2_i
                 FROM lagd),
          sums AS (SELECT nation, sum(d_i) AS sd, sum(e2_i) AS se2 FROM ii GROUP BY 1),
          ck AS (SELECT ii.nation, mth, n, b, sd, se2, e,
                        1.0 / n::DOUBLE
                          + (mth::DOUBLE - sx::DOUBLE / n::DOUBLE)
                            * (mth::DOUBLE - sx::DOUBLE / n::DOUBLE)
                            / (sxx::DOUBLE - sx::DOUBLE * (sx::DOUBLE / n::DOUBLE)) AS h
                 FROM ii JOIN sums ON sums.nation = ii.nation),
          ck2 AS (SELECT nation, mth, n, b, sd, se2,
                         CASE WHEN n >= 3 AND h < 1.0 AND se2::DOUBLE / 1e12 > 0.0
                              THEN floor((e * e * h
                                          / (2.0 * ((se2::DOUBLE / 1e12) / (n::DOUBLE - 2.0))
                                             * (1.0 - h) * (1.0 - h))) * 1e6 + 0.5) / 1e6
                         END AS cook
                  FROM ck),
          mxr AS (SELECT nation, cook AS cook_max_r, mth AS cook_x
                  FROM ck2 WHERE cook IS NOT NULL
                  QUALIFY row_number() OVER (PARTITION BY nation
                                             ORDER BY cook DESC, mth DESC) = 1),
          base AS (SELECT nation, max(n) AS n, max(b) AS slope_r,
                          max(sd) AS sd, max(se2) AS se2
                   FROM ck2 GROUP BY 1)
          SELECT base.nation, n, slope_r,
                 floor((CASE WHEN se2 > 0
                        THEN sd::DOUBLE / se2::DOUBLE END) * 1e4 + 0.5) / 1e4 AS dw_r,
                 cook_max_r, cook_x
          FROM base LEFT JOIN mxr ON mxr.nation = base.nation
          ORDER BY base.nation"""),

    // -- Theil–Sen robust slope per nation over the same monthly series:
    //    median of pairwise slopes (outlier-immune where OLS is not)
    QueryDef("q_theil_sen", (s, dir) => {
      operators.Stats
        .theilSen(nationMonthlyRevenue(s, dir), "nation", "mth", "rev")
        .orderBy("nation")
    },
      // median of pairwise slopes; midpoint rule over the partitioned rank
      s"""WITH $NationMonthlyCte,
          p AS (SELECT a.nation,
                       (b.rev::DOUBLE - a.rev::DOUBLE) / (b.mth - a.mth)::DOUBLE AS sl
                FROM ser a JOIN ser b ON a.nation = b.nation AND a.mth < b.mth),
          r AS (SELECT nation, sl,
                       row_number() OVER (PARTITION BY nation ORDER BY sl) AS rn,
                       count(*) OVER (PARTITION BY nation) AS m
                FROM p),
          med AS (SELECT nation, max(m)::BIGINT AS n_pairs, avg(sl) AS md
                  FROM r WHERE rn = (m + 1) // 2 OR rn = m // 2 + 1
                  GROUP BY nation),
          g AS (SELECT nation, count(*)::BIGINT AS n FROM ser GROUP BY nation)
          SELECT g.nation, g.n, med.n_pairs,
                 floor(med.md * 1e6 + 0.5) / 1e6 AS slope_r
          FROM g JOIN med USING (nation) ORDER BY nation"""),

    // -- per-source unigram entropy + perplexity (lexical diversity for
    //    mixture design; type/token columns give TTR for free). Vocab-
    //    sized after one token count; ppl from the ROUNDED entropy.
    QueryDef("q_source_entropy", (s, dir) => {
      operators.Stats
        .tokenEntropy(
          Tokenize.tokens(t(s, dir, "documents").select("doc_id", "source", "text"),
            "text", Seq("doc_id", "source")),
          "source")
        .orderBy("source")
    },
      // exact-count rationals; perplexity exponentiates the ROUNDED entropy
      """WITH tk AS (SELECT source,
                            regexp_replace(lower(unnest(regexp_split_to_array(text, '\s+'))), '[^a-z]', '', 'g') AS w
                     FROM documents),
          tok2 AS (SELECT source, w AS word FROM tk WHERE w <> ''),
          c AS (SELECT source, word, count(*) AS c FROM tok2 GROUP BY 1, 2),
          t AS (SELECT source, sum(c) AS t, count(*) AS n_types FROM c GROUP BY source),
          h AS (SELECT c.source, t.t::BIGINT AS n_tokens, t.n_types,
                       floor((-sum((c.c::DOUBLE / t.t) * ln(c.c::DOUBLE / t.t))) * 1e6 + 0.5) / 1e6 AS h_r
                FROM c JOIN t USING (source) GROUP BY 1, 2, 3)
          SELECT source, n_tokens, n_types, h_r,
                 floor((exp(h_r)) * 1e4 + 0.5) / 1e4 AS ppl_r
          FROM h ORDER BY source"""),

    // -- Jensen–Shannon divergence between every pair of per-source
    //    token distributions: the symmetric, always-finite (≤ ln 2)
    //    vocabulary-drift number; disjoint-support mass folded in
    //    analytically (½p·ln2), so ONE inner self-join on word — no
    //    outer join, vocab-sized work.
    QueryDef("q_source_jsd", (s, dir) => {
      operators.Stats
        .jsDivergence(
          Tokenize.tokens(t(s, dir, "documents").select("doc_id", "source", "text"),
            "text", Seq("doc_id", "source")),
          "source")
        .orderBy("g1", "g2")
    },
      // shared terms by inner join; disjoint-support mass enters as
      // ½ln2·(1−Σp_shared) analytically — mirror of Stats.jsDivergence
      """WITH tk AS (SELECT source,
                            regexp_replace(lower(unnest(regexp_split_to_array(text, '\s+'))), '[^a-z]', '', 'g') AS w
                     FROM documents),
          tok2 AS (SELECT source AS g, w FROM tk WHERE w <> ''),
          c AS (SELECT g, w, count(*) AS c FROM tok2 GROUP BY 1, 2),
          t AS (SELECT g, sum(c) AS t FROM c GROUP BY g),
          p AS (SELECT c.g, c.w, c.c::DOUBLE / t.t AS p FROM c JOIN t USING (g)),
          j AS (SELECT a.g AS g1, b.g AS g2, count(*) AS n_shared,
                       sum(0.5 * a.p * ln(2.0 * a.p / (a.p + b.p))
                           + 0.5 * b.p * ln(2.0 * b.p / (a.p + b.p))) AS sh,
                       sum(a.p) AS sp, sum(b.p) AS sq
                FROM p a JOIN p b ON a.w = b.w AND a.g < b.g
                GROUP BY 1, 2),
          pr AS (SELECT a.g AS g1, b.g AS g2 FROM t a JOIN t b ON a.g < b.g)
          SELECT pr.g1, pr.g2, coalesce(j.n_shared, 0)::BIGINT AS n_shared,
                 floor((coalesce(j.sh, 0.0)
                        + 0.5 * ln(2.0) * (1.0 - coalesce(j.sp, 0.0))
                        + 0.5 * ln(2.0) * (1.0 - coalesce(j.sq, 0.0))) * 1e6 + 0.5) / 1e6 AS jsd_r
          FROM pr LEFT JOIN j ON pr.g1 = j.g1 AND pr.g2 = j.g2
          ORDER BY pr.g1, pr.g2"""),

    // -- ANALYZE-style one-pass column statistics over lineitem
    QueryDef("q_column_stats", (s, dir) => {
      operators.Stats
        .tableStats(
          t(s, dir, "lineitem"),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_partkey", "l_suppkey"))
        .orderBy("col_name")
    }, {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_partkey", "l_suppkey")
      cols.map { c =>
        s"""SELECT '$c' AS col_name, count(*)::BIGINT AS n_rows,
                   (count(*) - count($c))::BIGINT AS n_null,
                   count(DISTINCT $c)::BIGINT AS ndv,
                   floor((min($c)::DOUBLE) * 1e4 + 0.5) / 1e4 AS min_v,
                   floor((max($c)::DOUBLE) * 1e4 + 0.5) / 1e4 AS max_v,
                   floor((avg($c::DOUBLE)) * 1e4 + 0.5) / 1e4 AS avg_v
            FROM lineitem"""
      }.mkString("", " UNION ALL ", " ORDER BY col_name")
    }),

    // -- Z-order clustering key over (custkey, price bucket): the
    //    bit-interleaved layout key behind OPTIMIZE ZORDER BY
    QueryDef("q_zorder_layout", (s, dir) => {
      t(s, dir, "orders")
        .select(
          col("o_orderkey"),
          col("o_custkey").cast("long").as("zx"),
          operators.Layout.quantize(col("o_totalprice"), 125.0, 14).as("zy"))
        .withColumn("zkey", operators.Layout.zorderKey(Seq(col("zx"), col("zy")), 14))
        .orderBy("zkey", "o_orderkey")
        .limit(500)
    },
      s"""WITH b AS (SELECT o_orderkey, o_custkey::BIGINT AS zx,
                            least(floor(o_totalprice / 125.0)::BIGINT, 16383) AS zy
                     FROM orders)
          SELECT o_orderkey, zx, zy,
                 (${graft.operators.Layout.zorderKeySql(Seq("zx", "zy"), 14)})::BIGINT AS zkey
          FROM b ORDER BY zkey, o_orderkey LIMIT 500"""),

    // -- Hilbert clustering key: Z-order's better-locality sibling
    //    (consecutive keys are ALWAYS adjacent cells); 10-level integer
    //    CASE/mask walk generated by the SAME hilbertStepSql the oracle
    //    CTE chain uses
    QueryDef("q_hilbert_layout", (s, dir) => {
      operators.Layout
        .hilbertKey(
          t(s, dir, "orders")
            .select(
              col("o_orderkey"),
              operators.Layout.quantize(col("o_custkey"), 2.0, 10).as("zx"),
              operators.Layout.quantize(col("o_totalprice"), 600.0, 10).as("zy")),
          "zx", "zy", bits = 10)
        .orderBy("hkey", "o_orderkey")
        .limit(500)
    },
      HilbertLayoutSql),

    // -- deterministic shard plan: md5-keyed global shuffle + snake
    //    token-balanced shard assignment — the data-loader handoff a
    //    training pipeline ends with; the global rank is the two-pass
    //    range trick, never a single-partition window
    QueryDef("q_shard_plan", (s, dir) => {
      operators.Layout
        .shardPlan(t(s, dir, "documents"), nShards = 8)
        .orderBy("shard", "pos")
    },
      s"""WITH base AS (
            SELECT doc_id,
                   len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))::BIGINT AS n_tokens,
                   md5('shard:' || CAST(doc_id AS VARCHAR)) AS key
            FROM documents),
          ranked AS (
            SELECT doc_id, n_tokens, key,
                   row_number() OVER (ORDER BY n_tokens DESC, key) AS rn
            FROM base),
          assigned AS (
            SELECT doc_id, n_tokens, key,
                   (CASE WHEN ((rn - 1) // 8) % 2 = 0 THEN (rn - 1) % 8
                         ELSE 7 - ((rn - 1) % 8) END)::BIGINT AS shard
            FROM ranked)
          SELECT doc_id, n_tokens, shard,
                 (row_number() OVER (PARTITION BY shard ORDER BY key))::BIGINT AS pos
          FROM assigned ORDER BY shard, pos"""),

    // -- the per-shard control-plane manifest over the same plan: doc and
    //    token totals + an order-insensitive md5 membership checksum
    QueryDef("q_shard_manifest", (s, dir) => {
      operators.Layout.shardManifest(
        operators.Layout.shardPlan(t(s, dir, "documents"), nShards = 8))
    },
      s"""WITH base AS (
            SELECT doc_id,
                   len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))::BIGINT AS n_tokens,
                   md5('shard:' || CAST(doc_id AS VARCHAR)) AS key
            FROM documents),
          ranked AS (
            SELECT doc_id, n_tokens, key,
                   row_number() OVER (ORDER BY n_tokens DESC, key) AS rn
            FROM base),
          assigned AS (
            SELECT doc_id, n_tokens, key,
                   (CASE WHEN ((rn - 1) // 8) % 2 = 0 THEN (rn - 1) % 8
                         ELSE 7 - ((rn - 1) % 8) END)::BIGINT AS shard
            FROM ranked)
          SELECT shard,
                 count(*)::BIGINT AS n_docs,
                 sum(n_tokens)::BIGINT AS n_tokens,
                 sum(('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT)::BIGINT AS members_md5
          FROM assigned GROUP BY shard ORDER BY shard"""),

    // -- shard the PACKS, not the docs: packByOffset → packContents →
    //    shardPlanByCount balances loader shards by PACK tokens — the
    //    unit a training step actually consumes; unit id is the
    //    (lang, pack_id) string key
    QueryDef("q_shard_packs", (s, dir) => {
      val packs = operators.Packing
        .packContents(operators.Packing.packByOffset(t(s, dir, "documents"), budget = 2048))
        .select(
          concat_ws(":", col("lang"), col("pack_id").cast("string")).as("unit_id"),
          col("pack_tokens"))
      operators.Layout
        .shardPlanByCount(packs, nShards = 4, idCol = "unit_id", countCol = "pack_tokens")
        .orderBy("shard", "pos")
    },
      s"""WITH packs AS (
            SELECT lang || ':' || CAST(pack_id AS VARCHAR) AS unit_id,
                   sum(n_tok)::BIGINT AS pack_tokens
            FROM (
              SELECT doc_id, lang, n_tok, floor(start_off / 2048)::BIGINT AS pack_id FROM (
                SELECT doc_id, lang, n_tok,
                       sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id) - n_tok AS start_off
                FROM (SELECT doc_id, lang,
                             len(regexp_split_to_array(text, '\\s+'))::BIGINT AS n_tok
                      FROM documents) t) u) p
            GROUP BY lang, pack_id),
          base AS (
            SELECT unit_id, pack_tokens AS n_tokens,
                   md5('shard:' || unit_id) AS key
            FROM packs),
          ranked AS (
            SELECT unit_id, n_tokens, key,
                   row_number() OVER (ORDER BY n_tokens DESC, key) AS rn
            FROM base),
          assigned AS (
            SELECT unit_id, n_tokens, key,
                   (CASE WHEN ((rn - 1) // 4) % 2 = 0 THEN (rn - 1) % 4
                         ELSE 3 - ((rn - 1) % 4) END)::BIGINT AS shard
            FROM ranked)
          SELECT unit_id, n_tokens, shard,
                 (row_number() OVER (PARTITION BY shard ORDER BY key))::BIGINT AS pos
          FROM assigned ORDER BY shard, pos"""),

    // -- INCREMENTAL shard maintenance: docs with doc_id % 10 == 0 arrive
    //    as a new batch against the manifest of the other 90% — biggest
    //    new docs deal onto lightest shards (snake over the load-ascending
    //    shard order); no corpus re-shard
    QueryDef("q_shard_incr", (s, dir) => {
      val base = t(s, dir, "documents").where(col("doc_id") % 10 =!= 0)
      val fresh = t(s, dir, "documents").where(col("doc_id") % 10 === 0)
      operators.Layout
        .shardAssignIncremental(
          operators.Layout.shardManifest(operators.Layout.shardPlan(base, nShards = 8)),
          fresh)
        .orderBy("doc_id")
    },
      s"""WITH base AS (
            SELECT doc_id,
                   len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))::BIGINT AS n_tokens,
                   md5('shard:' || CAST(doc_id AS VARCHAR)) AS key
            FROM documents WHERE doc_id % 10 <> 0),
          ranked AS (
            SELECT doc_id, n_tokens, key,
                   row_number() OVER (ORDER BY n_tokens DESC, key) AS rn
            FROM base),
          assigned AS (
            SELECT doc_id, n_tokens,
                   (CASE WHEN ((rn - 1) // 8) % 2 = 0 THEN (rn - 1) % 8
                         ELSE 7 - ((rn - 1) % 8) END)::BIGINT AS shard
            FROM ranked),
          man AS (SELECT shard, sum(n_tokens)::BIGINT AS n_tokens FROM assigned GROUP BY shard),
          ord AS (SELECT shard,
                         (row_number() OVER (ORDER BY n_tokens ASC, shard ASC))::BIGINT - 1 AS sidx
                  FROM man),
          fresh AS (
            SELECT doc_id,
                   len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))::BIGINT AS n_tokens,
                   md5('shard:' || CAST(doc_id AS VARCHAR)) AS key
            FROM documents WHERE doc_id % 10 = 0),
          franked AS (
            SELECT doc_id, n_tokens,
                   row_number() OVER (ORDER BY n_tokens DESC, key) AS rn
            FROM fresh),
          fassigned AS (
            SELECT doc_id, n_tokens,
                   (CASE WHEN ((rn - 1) // 8) % 2 = 0 THEN (rn - 1) % 8
                         ELSE 7 - ((rn - 1) % 8) END)::BIGINT AS sidx
            FROM franked)
          SELECT f.doc_id, f.n_tokens, o.shard
          FROM fassigned f JOIN ord o ON f.sidx = o.sidx
          ORDER BY f.doc_id"""),

    // -- shard-plan EXECUTION: the write half of the loader handoff —
    //    one parquet file per shard, rows in plan pos order; the returned
    //    read-back table must reconcile with the plan arithmetic, so the
    //    oracle replays the assignment chain (the q_compaction_exec
    //    lossless-roundtrip discipline)
    QueryDef("q_shard_write", (s, dir) => {
      val out = scratch("shard-out", dir)
      operators.Layout
        .shardWrite(s, t(s, dir, "documents"), nShards = 8, out)
        .groupBy(col("shard"))
        .agg(
          count(lit(1)).as("n_docs"),
          max(col("pos")).as("max_pos"),
          sum(graft.functions.HexSlice.u(md5(concat(lit("shard:"), col("doc_id").cast("string"))), 1, 8)).as("members_md5"))
        .select(col("shard"), col("n_docs"), col("max_pos"), col("members_md5"))
        .orderBy("shard")
    },
      s"""WITH base AS (
            SELECT doc_id,
                   len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))::BIGINT AS n_tokens,
                   md5('shard:' || CAST(doc_id AS VARCHAR)) AS key
            FROM documents),
          ranked AS (
            SELECT doc_id, n_tokens, key,
                   row_number() OVER (ORDER BY n_tokens DESC, key) AS rn
            FROM base),
          assigned AS (
            SELECT doc_id, key,
                   (CASE WHEN ((rn - 1) // 8) % 2 = 0 THEN (rn - 1) % 8
                         ELSE 7 - ((rn - 1) % 8) END)::BIGINT AS shard
            FROM ranked),
          pos AS (
            SELECT doc_id, shard,
                   (row_number() OVER (PARTITION BY shard ORDER BY key))::BIGINT AS pos
            FROM assigned)
          SELECT shard,
                 count(*)::BIGINT AS n_docs,
                 max(pos)::BIGINT AS max_pos,
                 sum(('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT)::BIGINT AS members_md5
          FROM pos GROUP BY shard ORDER BY shard"""),

    // -- incremental shard-plan EXECUTION: base corpus sharded in full,
    //    then the 10% batch APPENDED as one delta segment per shard with
    //    pos continuing from the base manifest — the whole-table read-back
    //    must reconcile with base plan ∪ batch assignment (no re-shard)
    QueryDef("q_shard_incr_write", (s, dir) => {
      val out = scratch("shard-incr-out", dir)
      val docs = t(s, dir, "documents")
      val base = docs.where(col("doc_id") % 10 =!= 0)
      val fresh = docs.where(col("doc_id") % 10 === 0)
      operators.Layout.shardWrite(s, base, nShards = 8, out)
      val man = operators.Layout.shardManifest(
        operators.Layout.shardPlan(base, nShards = 8))
      operators.Layout.shardWriteIncremental(s, man, fresh, out)
        .groupBy(col("shard"))
        .agg(
          count(lit(1)).as("n_docs"),
          max(col("pos")).as("max_pos"),
          sum(graft.functions.HexSlice.u(md5(concat(lit("shard:"), col("doc_id").cast("string"))), 1, 8)).as("members_md5"))
        .select(col("shard"), col("n_docs"), col("max_pos"), col("members_md5"))
        .orderBy("shard")
    },
      // base plan positions ∪ the batch's incremental assignment with pos
      // offset by each shard's base n_docs — the delta-segment append's
      // whole-table reconciliation
      s"""WITH base AS (
            SELECT doc_id,
                   len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))::BIGINT AS n_tokens,
                   md5('shard:' || CAST(doc_id AS VARCHAR)) AS key
            FROM documents WHERE doc_id % 10 <> 0),
          ranked AS (
            SELECT doc_id, n_tokens, key,
                   row_number() OVER (ORDER BY n_tokens DESC, key) AS rn
            FROM base),
          assigned AS (
            SELECT doc_id, n_tokens, key,
                   (CASE WHEN ((rn - 1) // 8) % 2 = 0 THEN (rn - 1) % 8
                         ELSE 7 - ((rn - 1) % 8) END)::BIGINT AS shard
            FROM ranked),
          bpos AS (
            SELECT doc_id, shard,
                   (row_number() OVER (PARTITION BY shard ORDER BY key))::BIGINT AS pos
            FROM assigned),
          man AS (SELECT shard, count(*)::BIGINT AS n_docs,
                         sum(n_tokens)::BIGINT AS n_tokens
                  FROM assigned GROUP BY shard),
          ord AS (SELECT shard,
                         (row_number() OVER (ORDER BY n_tokens ASC, shard ASC))::BIGINT - 1 AS sidx
                  FROM man),
          fresh AS (
            SELECT doc_id,
                   len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))::BIGINT AS n_tokens,
                   md5('shard:' || CAST(doc_id AS VARCHAR)) AS key
            FROM documents WHERE doc_id % 10 = 0),
          franked AS (
            SELECT doc_id, key,
                   row_number() OVER (ORDER BY n_tokens DESC, key) AS rn
            FROM fresh),
          fassigned AS (
            SELECT doc_id, key,
                   (CASE WHEN ((rn - 1) // 8) % 2 = 0 THEN (rn - 1) % 8
                         ELSE 7 - ((rn - 1) % 8) END)::BIGINT AS sidx
            FROM franked),
          fpos AS (
            SELECT f.doc_id, o.shard,
                   (row_number() OVER (PARTITION BY o.shard ORDER BY f.key))::BIGINT
                     + m.n_docs AS pos
            FROM fassigned f
            JOIN ord o ON f.sidx = o.sidx
            JOIN man m ON m.shard = o.shard),
          uni AS (SELECT doc_id, shard, pos FROM bpos
                  UNION ALL SELECT doc_id, shard, pos FROM fpos)
          SELECT shard,
                 count(*)::BIGINT AS n_docs,
                 max(pos)::BIGINT AS max_pos,
                 sum(('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT)::BIGINT AS members_md5
          FROM uni GROUP BY shard ORDER BY shard"""),

    // -- metadata-sized manifest maintenance: fold the batch's assignments
    //    into the existing manifest (all columns are order-insensitive
    //    sums) — bit-identical to a full recompute over the union, at the
    //    cost of one batch partial-agg + an N-row union
    QueryDef("q_shard_manifest_incr", (s, dir) => {
      val docs = t(s, dir, "documents")
      val base = docs.where(col("doc_id") % 10 =!= 0)
      val fresh = docs.where(col("doc_id") % 10 === 0)
      val man = operators.Layout.shardManifest(
        operators.Layout.shardPlan(base, nShards = 8))
      operators.Layout.shardManifestFold(
        man, operators.Layout.shardAssignIncremental(man, fresh))
    },
      // fold == recompute: the folded manifest must equal the grouped union
      // of the base plan and the batch assignment
      s"""WITH base AS (
            SELECT doc_id,
                   len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))::BIGINT AS n_tokens,
                   md5('shard:' || CAST(doc_id AS VARCHAR)) AS key
            FROM documents WHERE doc_id % 10 <> 0),
          ranked AS (
            SELECT doc_id, n_tokens, key,
                   row_number() OVER (ORDER BY n_tokens DESC, key) AS rn
            FROM base),
          assigned AS (
            SELECT doc_id, n_tokens,
                   (CASE WHEN ((rn - 1) // 8) % 2 = 0 THEN (rn - 1) % 8
                         ELSE 7 - ((rn - 1) % 8) END)::BIGINT AS shard
            FROM ranked),
          man AS (SELECT shard, sum(n_tokens)::BIGINT AS n_tokens FROM assigned GROUP BY shard),
          ord AS (SELECT shard,
                         (row_number() OVER (ORDER BY n_tokens ASC, shard ASC))::BIGINT - 1 AS sidx
                  FROM man),
          fresh AS (
            SELECT doc_id,
                   len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))::BIGINT AS n_tokens,
                   md5('shard:' || CAST(doc_id AS VARCHAR)) AS key
            FROM documents WHERE doc_id % 10 = 0),
          franked AS (
            SELECT doc_id, n_tokens,
                   row_number() OVER (ORDER BY n_tokens DESC, key) AS rn
            FROM fresh),
          fassigned AS (
            SELECT doc_id, n_tokens,
                   (CASE WHEN ((rn - 1) // 8) % 2 = 0 THEN (rn - 1) % 8
                         ELSE 7 - ((rn - 1) % 8) END)::BIGINT AS sidx
            FROM franked),
          fsh AS (SELECT f.doc_id, f.n_tokens, o.shard
                  FROM fassigned f JOIN ord o ON f.sidx = o.sidx),
          uni AS (SELECT doc_id, n_tokens, shard FROM assigned
                  UNION ALL SELECT doc_id, n_tokens, shard FROM fsh)
          SELECT shard,
                 count(*)::BIGINT AS n_docs,
                 sum(n_tokens)::BIGINT AS n_tokens,
                 sum(('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT)::BIGINT AS members_md5
          FROM uni GROUP BY shard ORDER BY shard"""),

    // -- per-epoch read order over the FIXED shard layout: shard files are
    //    immutable, so an epoch permutes WITHIN each shard (order-by-hash,
    //    rerun-identical) — the fixed-membership complement of
    //    q_epoch_shuffle's per-epoch re-deal
    QueryDef("q_epoch_within", (s, dir) => {
      operators.Layout
        .epochOrderWithinShards(
          operators.Layout.shardPlan(t(s, dir, "documents"), nShards = 8), epoch = 3)
        .orderBy("shard", "pos")
    },
      // shard membership frozen by the plan chain; the epoch's order is the
      // ascending md5('epoch:3:'||id) rank within each shard
      s"""WITH base AS (
            SELECT doc_id,
                   len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))::BIGINT AS n_tokens,
                   md5('shard:' || CAST(doc_id AS VARCHAR)) AS key
            FROM documents),
          ranked AS (
            SELECT doc_id, n_tokens, key,
                   row_number() OVER (ORDER BY n_tokens DESC, key) AS rn
            FROM base),
          assigned AS (
            SELECT doc_id, n_tokens,
                   (CASE WHEN ((rn - 1) // 8) % 2 = 0 THEN (rn - 1) % 8
                         ELSE 7 - ((rn - 1) % 8) END)::BIGINT AS shard
            FROM ranked)
          SELECT doc_id, n_tokens, shard,
                 (row_number() OVER (PARTITION BY shard
                    ORDER BY md5('epoch:3:' || CAST(doc_id AS VARCHAR)), doc_id))::BIGINT AS pos
          FROM assigned ORDER BY shard, pos"""),

    // -- INCREMENTAL packing: the top-decile batch packs against the
    //    lower corpus's per-lang token totals (strata-sized broadcast) —
    //    boundary packs keep filling, no corpus re-pack; under the
    //    append-id contract this equals the full repack's batch rows
    QueryDef("q_pack_incr", (s, dir) => {
      val docs = t(s, dir, "documents")
      val cut = docs.agg(max(col("doc_id"))).head().getLong(0) * 9L / 10L
      val base = docs.where(col("doc_id") < cut)
      val fresh = docs.where(col("doc_id") >= cut)
      operators.Packing
        .packByOffsetIncremental(
          operators.Packing.packTotals(operators.Packing.packByOffset(base, budget = 2048)),
          fresh, budget = 2048)
        .orderBy("lang", "doc_id")
    },
      // batch-local running offsets shifted by the base corpus's per-lang
      // totals — floor into pack ids exactly as the full-corpus form
      s"""WITH mx AS (SELECT max(doc_id) AS m FROM documents),
          base AS (SELECT doc_id, lang,
                          len(regexp_split_to_array(text, '\\s+'))::BIGINT AS n_tok
                   FROM documents, mx WHERE doc_id < (m * 9) // 10),
          tot AS (SELECT lang, sum(n_tok)::BIGINT AS t FROM base GROUP BY lang),
          fresh AS (SELECT doc_id, lang,
                           len(regexp_split_to_array(text, '\\s+'))::BIGINT AS n_tok
                    FROM documents, mx WHERE doc_id >= (m * 9) // 10),
          off AS (SELECT doc_id, lang, n_tok,
                         sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id) - n_tok AS loc
                  FROM fresh)
          SELECT o.doc_id, o.lang, o.n_tok,
                 ((coalesce(t.t, 0) + o.loc) // 2048)::BIGINT AS pack_id
          FROM off o LEFT JOIN tot t USING (lang)
          ORDER BY o.lang, o.doc_id"""),

    // -- the coordinator half: per-epoch shard VISIT order, an md5-ranked
    //    permutation of the N manifest rows per epoch (metadata-bounded)
    QueryDef("q_epoch_visit", (s, dir) => {
      operators.Layout
        .epochShardVisit(
          operators.Layout.shardManifest(
            operators.Layout.shardPlan(t(s, dir, "documents"), nShards = 8)),
          epochs = 4)
        .orderBy("epoch", "visit")
    },
      // per-epoch md5 permutation of the N manifest shards
      s"""WITH base AS (
            SELECT doc_id,
                   len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))::BIGINT AS n_tokens,
                   md5('shard:' || CAST(doc_id AS VARCHAR)) AS key
            FROM documents),
          ranked AS (
            SELECT doc_id, n_tokens, key,
                   row_number() OVER (ORDER BY n_tokens DESC, key) AS rn
            FROM base),
          shards AS (
            SELECT DISTINCT (CASE WHEN ((rn - 1) // 8) % 2 = 0 THEN (rn - 1) % 8
                                  ELSE 7 - ((rn - 1) % 8) END)::BIGINT AS shard
            FROM ranked),
          ep AS (SELECT unnest(range(0, 4))::BIGINT AS epoch),
          x AS (SELECT e.epoch, s.shard,
                       md5('epoch:' || CAST(e.epoch AS VARCHAR) || ':' || CAST(s.shard AS VARCHAR)) AS k
                FROM ep e CROSS JOIN shards s)
          SELECT epoch, shard,
                 (row_number() OVER (PARTITION BY epoch ORDER BY k, shard))::BIGINT AS visit
          FROM x ORDER BY epoch, visit"""),

    // -- zone-map prune effectiveness: the SAME price predicate against an
    //    insertion-order layout vs a price-clustered layout — the measured
    //    I/O argument for re-clustering; per-file min/max like a parquet
    //    reader's stats
    QueryDef("q_zonemap_prune", (s, dir) => {
      val orders = t(s, dir, "orders")
      val lo = 100000.0; val hi = 110000.0
      operators.Layout
        .zoneMapPruneStats(orders, floor(col("o_orderkey") / 100L), "natural",
          "o_totalprice", lo, hi)
        .unionByName(operators.Layout
          .zoneMapPruneStats(orders, floor(col("o_totalprice") / 2000.0), "clustered",
            "o_totalprice", lo, hi))
        .orderBy("layout")
    },
      """WITH nat AS (
           SELECT floor(o_orderkey / 100) AS f,
                  min(o_totalprice) AS mn, max(o_totalprice) AS mx
           FROM orders GROUP BY 1),
         clu AS (
           SELECT floor(o_totalprice / 2000.0) AS f,
                  min(o_totalprice) AS mn, max(o_totalprice) AS mx
           FROM orders GROUP BY 1),
         s AS (
           SELECT 'natural' AS layout, count(*) AS n_files,
                  sum(CASE WHEN mx < 100000.0 OR mn > 110000.0 THEN 0 ELSE 1 END)::BIGINT AS files_scanned
           FROM nat
           UNION ALL
           SELECT 'clustered' AS layout, count(*) AS n_files,
                  sum(CASE WHEN mx < 100000.0 OR mn > 110000.0 THEN 0 ELSE 1 END)::BIGINT AS files_scanned
           FROM clu)
         SELECT layout, n_files, files_scanned,
                floor((1.0 - files_scanned::DOUBLE / n_files) * 1e4 + 0.5) / 1e4 AS prune_frac_r
         FROM s ORDER BY layout"""),

    // -- triangle participation counts on the brand co-occurrence graph
    //    (oriented-wedge plan: each triangle found exactly once)
    QueryDef("q_triangle_count", (s, dir) => {
      operators.Graph
        .triangleCounts(
          operators.Graph.brandCooccurrenceEdges(t(s, dir, "lineitem"), t(s, dir, "part")))
        .orderBy("node")
    },
      """WITH ob AS (SELECT DISTINCT l_orderkey AS ok, p_brand AS brand
                     FROM lineitem JOIN part ON l_partkey = p_partkey),
          e AS (SELECT DISTINCT a.brand AS src, b.brand AS dst
                FROM ob a JOIN ob b ON a.ok = b.ok AND a.brand < b.brand),
          tri AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
                  FROM e e1
                  JOIN e e2 ON e2.src = e1.src AND e2.dst > e1.dst
                  JOIN e e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
          n AS (SELECT unnest([a, b, c]) AS node FROM tri)
          SELECT node, count(*)::BIGINT AS n_tri FROM n GROUP BY node ORDER BY node"""),

    // -- local clustering coefficient per brand node: the normalized
    //    triangle dial (what fraction of a node's neighbor pairs are
    //    themselves linked) — degree from one explode-agg, triangles
    //    reused, deg<2 nodes dropped (undefined), 0-triangle kept at 0
    QueryDef("q_clustering_coeff", (s, dir) => {
      operators.Graph
        .clusteringCoefficients(
          operators.Graph.brandCooccurrenceEdges(t(s, dir, "lineitem"), t(s, dir, "part")))
        .orderBy("node")
    },
      // degree + the same oriented triangle enumeration, left join keeps
      // triangle-free nodes at cc 0; deg<2 dropped
      """WITH ob AS (SELECT DISTINCT l_orderkey AS ok, p_brand AS brand
                     FROM lineitem JOIN part ON l_partkey = p_partkey),
          e AS (SELECT DISTINCT a.brand AS src, b.brand AS dst
                FROM ob a JOIN ob b ON a.ok = b.ok AND a.brand < b.brand),
          d AS (SELECT node, count(*) AS deg FROM (
                  SELECT src AS node FROM e UNION ALL SELECT dst FROM e) u
                GROUP BY node),
          tri AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
                  FROM e e1
                  JOIN e e2 ON e2.src = e1.src AND e2.dst > e1.dst
                  JOIN e e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
          t AS (SELECT node, count(*) AS n_tri FROM (
                  SELECT unnest([a, b, c]) AS node FROM tri) n GROUP BY node)
          SELECT d.node, d.deg::BIGINT AS deg, coalesce(t.n_tri, 0)::BIGINT AS n_tri,
                 floor((2.0 * coalesce(t.n_tri, 0) / (d.deg::DOUBLE * (d.deg - 1))) * 1e6 + 0.5) / 1e6 AS cc_r
          FROM d LEFT JOIN t ON t.node = d.node
          WHERE d.deg >= 2 ORDER BY d.node"""),

    // -- community detection: synchronous label propagation with the
    //    self-vote stabilizer (pure sync LPA 2-cycles on bipartite
    //    structure) over the SPARSE same-nation trade graph — 51
    //    communities at 5 rounds; integer votes + total tie order make
    //    the fixed-iteration result replay exactly in the oracle
    QueryDef("q_label_prop", (s, dir) => {
      operators.Graph
        .labelPropagation(
          operators.Graph.sameNationEdges(t(s, dir, "orders"), t(s, dir, "lineitem"),
            t(s, dir, "customer"), t(s, dir, "supplier")),
          iters = 5)
        .orderBy("node")
    },
      // unrolled fixed-iteration LPA / k-core peeling over the same-nation
      // trade graph (mirrors of Graph.labelPropagation / Graph.kCore)
      labelPropSql(iters = 5)),

    // -- dense-backbone extraction: the 4-core of the same-nation trade
    //    graph by iterative peeling (4 cascading peels at sf0.01; 6
    //    rounds certifies the fixpoint) — per round one partial-agg
    //    degree count + two node-sized semi-joins
    QueryDef("q_kcore", (s, dir) => {
      // r21: numeric node keys through the peel (q_pagerank note) — degree
      // counts and semi-join survivorship are relabeling-invariant; string
      // ids reconstructed for the declared output.
      operators.Graph
        .kCore(
          operators.Graph.sameNationEdgesNum(t(s, dir, "orders"), t(s, dir, "lineitem"),
            t(s, dir, "customer"), t(s, dir, "supplier")),
          k = 4, rounds = 6)
        .select(operators.Graph.csNodeStr(col("node")).as("node"), col("deg"))
        .orderBy("node")
    },
      kCoreSql(k = 4, rounds = 6),
      Some(Iteration(
        "early-exit: count-fixpoint per peel round (unchanged edge count = " +
          "fixpoint, peel idempotent past it — Graph.kCore, the kTruss discipline)",
        // round 14: one k-core peel round — the real loop checkpoints each
        // round, so the final static plan shows only the last degree agg;
        // the peel body (partial-agg degree count + two node-sized
        // semi-joins) is what must stay scale-shaped
        (s, dir) => {
          import graft.operators.Graph
          Graph.kCorePeel(
            Graph.undirected(Graph.sameNationEdgesNum(
              s.read.parquet(s"$dir/orders.parquet"),
              s.read.parquet(s"$dir/lineitem.parquet"),
              s.read.parquet(s"$dir/customer.parquet"),
              s.read.parquet(s"$dir/supplier.parquet"))),
            k = 4)
        }))),

    // -- k-truss backbone of the DEGREE-CAPPED customer co-supplier
    //    projection (suppliers above deg 20 excluded — the hot-bucket
    //    discipline; supplier degree grows with corpus scale, so the
    //    uncapped projection is quadratic): every surviving edge closes
    //    >= 16 triangles; 8 rounds certifies the fixpoint at sf0.01 (the
    //    operator early-exits at the fixpoint); support recomputed on
    //    the final truss so each row carries its triangle count
    QueryDef("q_ktruss", (s, dir) => {
      // r21: numeric node keys through the support peel (q_pagerank note).
      // The truss — surviving UNDIRECTED edges + their triangle support —
      // is orientation-convention-free, so peeling under numeric order
      // yields the same edge set; the declared src<dst STRING orientation
      // is re-established on the reconstructed ids ("c10" < "c2"
      // lexicographically, so least/greatest must run on strings).
      val nTruss = operators.Graph
        .kTruss(
          operators.Graph.coSupplierEdgesNum(t(s, dir, "orders"), t(s, dir, "lineitem"),
            t(s, dir, "customer"), t(s, dir, "supplier"), maxDeg = 20),
          k = 18, rounds = 8)
      val u = operators.Graph.csNodeStr(col("src"))
      val v = operators.Graph.csNodeStr(col("dst"))
      nTruss
        .select(least(u, v).as("src"), greatest(u, v).as("dst"), col("support"))
        .orderBy("src", "dst")
    },
      kTrussSql(k = 18, rounds = 8, maxDeg = 20),
      Some(Iteration(
        "early-exit: count-fixpoint per support-peel round " +
          "(Graph.kTrussCertified surfaces the certificate to callers)",
        // round 15: one k-truss support-peel round over the customer
        // co-supplier projection — the oriented-wedge support count (two
        // equi-joins on the oriented edge list) + the >= k-2 filter; the
        // real loop checkpoints each round
        (s, dir) => {
          import graft.operators.Graph
          Graph.kTrussPeel(
            Graph.orientedEdges(Graph.coSupplierEdgesNum(
              s.read.parquet(s"$dir/orders.parquet"),
              s.read.parquet(s"$dir/lineitem.parquet"),
              s.read.parquet(s"$dir/customer.parquet"),
              s.read.parquet(s"$dir/supplier.parquet"), maxDeg = 20)),
            k = 18)
        }))),

    // -- degree mixing of the same-nation trade graph: do well-connected
    //    customers trade with well-connected suppliers? One number from
    //    exact integer degree sums over the symmetrized edge list
    QueryDef("q_assortativity", (s, dir) =>
      // r21: numeric node keys (q_pagerank note) — the output is one
      // (m, r_r) row from degree sums, both relabeling-invariant.
      operators.Graph.degreeAssortativity(
        operators.Graph.sameNationEdgesNum(t(s, dir, "orders"), t(s, dir, "lineitem"),
          t(s, dir, "customer"), t(s, dir, "supplier"))),
      // symmetrized list: both margins coincide, r = (mΣjk−(Σj)²)/(mΣj²−(Σj)²)
      // from exact HUGEINT degree sums
      s"""WITH $NationEdgesCte,
          deg AS (SELECT src AS node, count(*)::BIGINT AS d FROM ne GROUP BY 1),
          je AS (SELECT a.d AS dj, b.d AS dk
                 FROM ne JOIN deg a ON ne.src = a.node JOIN deg b ON ne.dst = b.node),
          ag AS (SELECT count(*)::BIGINT AS m, sum(dj::HUGEINT * dk) AS sjk,
                        sum(dj::HUGEINT) AS sj, sum(dj::HUGEINT * dj) AS sjj
                 FROM je)
          SELECT m,
                 floor((CASE WHEN m::DOUBLE * sjj::DOUBLE - sj::DOUBLE * sj::DOUBLE > 0
                        THEN (m::DOUBLE * sjk::DOUBLE - sj::DOUBLE * sj::DOUBLE)
                             / (m::DOUBLE * sjj::DOUBLE - sj::DOUBLE * sj::DOUBLE) END)
                       * 1e6 + 0.5) / 1e6 AS r_r
          FROM ag"""),

    // -- Adamic–Adar link prediction on the sparse trade graph: top-20
    //    non-adjacent pairs by hub-discounted shared counterparties —
    //    wedge expansion degree-capped BEFORE the self-join (mirrored)
    QueryDef("q_adamic_adar", (s, dir) => {
      // r21: numeric node keys (q_pagerank note). The unordered-pair set,
      // common counts and AA sums are orientation-convention-free (the
      // adjacency anti-join probes the SYMMETRIZED edge list, so either
      // orientation of a pair hits it); only the declared presentation —
      // u < v in STRING order and the (aa_r DESC, u, v) tiebreak — must
      // run on the reconstructed ids, so re-canonicalize + re-rank on
      // strings before the top-k cut.
      val aa = operators.Graph.adamicAdarUnlimited(
        operators.Graph.sameNationEdgesNum(t(s, dir, "orders"), t(s, dir, "lineitem"),
          t(s, dir, "customer"), t(s, dir, "supplier")),
        maxHubDegree = 64)
      val us = operators.Graph.csNodeStr(col("u"))
      val vs = operators.Graph.csNodeStr(col("v"))
      aa.select(least(us, vs).as("u"), greatest(us, vs).as("v"),
          col("common"), col("aa_r"))
        .orderBy(col("aa_r").desc, col("u"), col("v"))
        .limit(20)
    },
      // hub cut (deg <= 64) mirrored BEFORE the wedge join; rounded scores
      // rank with a total (aa_r DESC, u, v) tiebreak
      s"""WITH $NationEdgesCte,
          deg AS (SELECT src AS node, count(*)::BIGINT AS d FROM ne GROUP BY 1),
          vz AS (SELECT ne.src AS z, ne.dst AS n, deg.d AS dz
                 FROM ne JOIN deg ON ne.src = deg.node WHERE deg.d <= 64),
          w AS (SELECT a.n AS u, b.n AS v, a.dz
                FROM vz a JOIN vz b ON a.z = b.z WHERE a.n < b.n),
          nw AS (SELECT u, v, dz FROM w
                 WHERE NOT EXISTS (SELECT 1 FROM ne WHERE ne.src = w.u AND ne.dst = w.v)),
          ag AS (SELECT u, v, count(*)::BIGINT AS common,
                        floor(sum(1.0 / ln(dz::DOUBLE)) * 1e6 + 0.5) / 1e6 AS aa_r
                 FROM nw GROUP BY u, v)
          SELECT u, v, common, aa_r FROM ag
          QUALIFY row_number() OVER (ORDER BY aa_r DESC, u, v) <= 20
          ORDER BY aa_r DESC, u, v"""),

    // -- modularity profile of nation membership over the UNRESTRICTED
    //    trade graph: is trade nation-concentrated beyond what degrees
    //    alone predict? Per-nation within-edge mass vs the null model
    QueryDef("q_modularity", (s, dir) => {
      // r21: numeric node keys (q_pagerank note) on both the edge list and
      // the membership relation; the output is per-LABEL (nation) — edge
      // mass, degree mass and countDistinct(node) are relabeling-invariant.
      val cust = t(s, dir, "customer")
        .select((col("c_custkey") + 1).cast("long").as("node"),
          col("c_nationkey").as("label"))
      val supp = t(s, dir, "supplier")
        .select((-(col("s_suppkey") + 1)).cast("long").as("node"),
          col("s_nationkey").as("label"))
      operators.Graph.modularity(
        operators.Graph.customerSupplierEdgesNum(t(s, dir, "orders"), t(s, dir, "lineitem")),
        cust.unionAll(supp))
    },
      // per-nation within-edge mass vs the degree-null model on the
      // symmetrized list: all integers, one scalar row per label
      s"""WITH $GraphEdgesCte,
          lab AS (SELECT 'c' || c_custkey AS node, c_nationkey AS label FROM customer
                  UNION ALL SELECT 's' || s_suppkey, s_nationkey FROM supplier),
          tot AS (SELECT count(*)::BIGINT AS m2 FROM e),
          le AS (SELECT lu.label AS lu, lv.label AS lv, e.src AS src FROM e
                 JOIN lab lu ON e.src = lu.node JOIN lab lv ON e.dst = lv.node),
          ag AS (SELECT lu AS label, count(DISTINCT src)::BIGINT AS n_nodes,
                        count(*)::BIGINT AS d_tot, sum((lu = lv)::INT)::BIGINT AS e_in
                 FROM le GROUP BY 1)
          SELECT label, n_nodes, d_tot, e_in,
                 floor((e_in::DOUBLE / m2::DOUBLE
                        - (d_tot::DOUBLE / m2::DOUBLE) * (d_tot::DOUBLE / m2::DOUBLE))
                       * 1e6 + 0.5) / 1e6 AS q_contrib_r
          FROM ag CROSS JOIN tot ORDER BY label"""),

    // -- lagged cross-correlation of the click and purchase hourly
    //    series: does click activity LEAD purchases, and by how many
    //    hours — exact-overlap samples, integer sufficient sums per lag
    QueryDef("q_xcorr", (s, dir) =>
      operators.TimeSeries.crossCorrelation(
        graft.sources.EventsSource.events(s, dir), "click", "purchase", maxLag = 6),
      // exact-overlap per lag; six integer sufficient sums, one scalar r
      s"""WITH $DenseHourCte,
          x AS (SELECT h, x FROM ser WHERE event_type = 'click'),
          y AS (SELECT h AS hy, x AS y FROM ser WHERE event_type = 'purchase'),
          l AS (SELECT unnest(range(0, 7))::BIGINT AS lag),
          j AS (SELECT l.lag, x.x, y.y
                FROM x CROSS JOIN l JOIN y ON y.hy = x.h + l.lag),
          ag AS (SELECT lag, count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
                        sum(y)::BIGINT AS sy, sum(x * x)::BIGINT AS sxx,
                        sum(y * y)::BIGINT AS syy, sum(x * y)::BIGINT AS sxy
                 FROM j GROUP BY 1)
          SELECT lag, n,
                 floor((CASE WHEN n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE > 0.0
                              AND n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE > 0.0
                        THEN (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                             / sqrt((n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                                    * (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)) END)
                       * 1e6 + 0.5) / 1e6 AS r_r
          FROM ag ORDER BY lag"""),

    // -- item-item cosine neighbors from co-baskets: top-3 "bought
    //    together" per part — within-basket pair expansion only (≤ b²
    //    per order), minCo floor prunes before the pair relation lands
    QueryDef("q_item_cf", (s, dir) =>
      operators.Recommend.itemItemCosine(t(s, dir, "lineitem"), minCo = 2, k = 3),
      // minCo floor before the pair relation lands; rounded cosines rank
      // with a (cos DESC, neighbor) total order per item
      """WITH ob AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS it FROM lineitem),
          ni AS (SELECT it, count(*)::BIGINT AS n FROM ob GROUP BY 1),
          pr AS (SELECT a.it AS i, b.it AS j, count(*)::BIGINT AS co
                 FROM ob a JOIN ob b ON a.ok = b.ok AND a.it < b.it
                 GROUP BY 1, 2 HAVING count(*) >= 2),
          sc AS (SELECT pr.i, pr.j, pr.co,
                        floor((pr.co::DOUBLE / sqrt(x.n::DOUBLE * y.n::DOUBLE))
                              * 1e6 + 0.5) / 1e6 AS cos_r
                 FROM pr JOIN ni x ON pr.i = x.it JOIN ni y ON pr.j = y.it),
          sym AS (SELECT i AS item, j AS neighbor, co, cos_r FROM sc
                  UNION ALL SELECT j, i, co, cos_r FROM sc),
          rk AS (SELECT item, neighbor, co, cos_r,
                        row_number() OVER (PARTITION BY item
                                           ORDER BY cos_r DESC, neighbor) AS "rank"
                 FROM sym)
          SELECT item, neighbor, co, cos_r, "rank" FROM rk
          WHERE "rank" <= 3 ORDER BY item, "rank""""),

    // -- leave-one-out target encoding of part brand against quantity:
    //    the anti-leakage categorical feature — each row sees only the
    //    OTHER rows' mean, shrunk toward the global prior
    QueryDef("q_target_encode", (s, dir) => {
      val r = t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("okey"), col("l_linenumber").as("line"),
          col("p_brand").as("cat"), col("l_quantity").cast("long").as("x"))
      operators.Stats.targetEncodeLoo(r, "cat", "x", smoothing = 10.0)
        .select(col("okey"), col("line"), col("cat"), col("enc_r"))
        .orderBy("okey", "line")
    },
      // LOO encode: (S_c − x + m·P)/(n_c − 1 + m), broadcast category table
      """WITH r AS (SELECT l_orderkey AS okey, l_linenumber AS line,
                           p_brand AS cat, l_quantity::BIGINT AS x
                    FROM lineitem JOIN part ON l_partkey = p_partkey),
          pc AS (SELECT cat, count(*)::BIGINT AS n, sum(x)::HUGEINT AS s
                 FROM r GROUP BY 1),
          g AS (SELECT count(*)::BIGINT AS nt, sum(x)::HUGEINT AS st FROM r)
          SELECT r.okey, r.line, r.cat,
                 floor(((pc.s::DOUBLE - r.x::DOUBLE + 10.0 * (g.st::DOUBLE / g.nt::DOUBLE))
                        / (pc.n::DOUBLE - 1.0 + 10.0)) * 1e6 + 0.5) / 1e6 AS enc_r
          FROM r JOIN pc USING (cat) CROSS JOIN g ORDER BY okey, line"""),

    // -- WOE/IV of the order-price bin against the urgent-priority
    //    label: the credit-scoring screening table — zero cells surface
    //    as NULL (the "merge your bins" signal), never clamped
    QueryDef("q_woe_iv", (s, dir) => {
      val r = t(s, dir, "orders").select(
        floor(col("o_totalprice") / 50000.0).cast("long").as("bin"),
        col("o_orderpriority").startsWith("1").as("good"))
      operators.Stats.woeIv(r, "bin", "good")
    },
      // WOE argument is the exact integer cross-ratio g·B/(b·G); IV derives
      // from the ROUNDED WOE; zero cells read NULL (never clamped)
      """WITH r AS (SELECT floor(o_totalprice / 50000.0)::BIGINT AS bin,
                           (o_orderpriority LIKE '1%') AS good FROM orders),
          cells AS (SELECT bin, count(*)::BIGINT AS n,
                           sum(good::INT)::BIGINT AS n_good
                    FROM r GROUP BY 1),
          c2 AS (SELECT bin, n, n_good, n - n_good AS n_bad FROM cells),
          tot AS (SELECT sum(n_good)::BIGINT AS g, sum(n_bad)::BIGINT AS b FROM c2),
          w AS (SELECT bin, n, n_good, n_bad, g, b,
                       floor((CASE WHEN n_good > 0 AND n_bad > 0
                              THEN ln((n_good::DOUBLE * b::DOUBLE)
                                      / (n_bad::DOUBLE * g::DOUBLE)) END)
                             * 1e6 + 0.5) / 1e6 AS woe_r
                FROM c2 CROSS JOIN tot)
          SELECT bin, n, n_good, n_bad, woe_r,
                 floor(((n_good::DOUBLE / g::DOUBLE - n_bad::DOUBLE / b::DOUBLE)
                        * woe_r) * 1e6 + 0.5) / 1e6 AS iv_r
          FROM w ORDER BY bin"""),

    // -- vocabulary growth (Heaps' law): new + cumulative vocab per
    //    50-doc prefix of the corpus
    QueryDef("q_vocab_growth", (s, dir) => {
      operators.Stats
        .vocabGrowth(Tokenize.tokens(t(s, dir, "documents"), "text", Seq("doc_id")), bucketWidth = 5)
        .orderBy("bucket")
    },
      s"""WITH $TokCte,
          f AS (SELECT word, min(doc_id) AS first_doc FROM tok GROUP BY word),
          b AS (SELECT floor(first_doc / 5)::BIGINT AS bucket, count(*) AS new_words
                FROM f GROUP BY 1)
          SELECT bucket, new_words::BIGINT AS new_words,
                 (sum(new_words) OVER (ORDER BY bucket
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS cum_words
          FROM b ORDER BY bucket"""),

    // -- document-level PMI collocations: df-banded vocabulary paired
    //    within docs, exact counts, one ln() ratio
    QueryDef("q_token_pmi", (s, dir) => {
      operators.Cooccurrence
        .pmiPairs(
          Tokenize.tokens(t(s, dir, "documents"), "text", Seq("doc_id")),
          minPair = 5, minDf = 2, maxDfFrac = 0.9)
        .orderBy("w1", "w2")
    },
      s"""WITH $TokCte,
          dt AS (SELECT DISTINCT doc_id, word FROM tok),
          nd AS (SELECT count(DISTINCT doc_id)::DOUBLE AS n_docs FROM dt),
          dfs AS (SELECT word, count(*) AS df_w FROM dt GROUP BY word),
          band AS (SELECT word, df_w FROM dfs CROSS JOIN nd
                   WHERE df_w >= 2 AND df_w <= n_docs * 0.9),
          p AS (SELECT a.word AS w1, b.word AS w2, count(*) AS n_xy
                FROM dt a
                JOIN dt b ON a.doc_id = b.doc_id AND a.word < b.word
                JOIN band ba ON ba.word = a.word
                JOIN band bb ON bb.word = b.word
                GROUP BY 1, 2 HAVING count(*) >= 5)
          SELECT w1, w2, n_xy::BIGINT AS n_xy, ba.df_w::BIGINT AS n_x, bb.df_w::BIGINT AS n_y,
                 floor((ln(n_xy::DOUBLE * n_docs / (ba.df_w * bb.df_w))) * 1e6 + 0.5) / 1e6 AS pmi
          FROM p JOIN band ba ON ba.word = p.w1
                 JOIN band bb ON bb.word = p.w2
                 CROSS JOIN nd
          ORDER BY w1, w2"""),

    // -- collocation significance via Dunning's G² over the same banded
    //    pair relation: evidence-weighted where PMI is not (a 500-of-600
    //    co-occurrence outranks a 3-of-3) — exact 2×2 document cells,
    //    four fixed-order ln terms, map-side
    QueryDef("q_collocations_g2", (s, dir) => {
      operators.Cooccurrence
        .g2Collocations(
          Tokenize.tokens(t(s, dir, "documents"), "text", Seq("doc_id")),
          minPair = 5, minDf = 2, maxDfFrac = 0.9)
        .orderBy("w1", "w2")
    },
      // Dunning G² over the identical banded pair relation; four CASE ln
      // terms combined in the same fixed order as the Spark expression
      s"""WITH $TokCte,
          dt AS (SELECT DISTINCT doc_id, word FROM tok),
          nd AS (SELECT count(DISTINCT doc_id)::DOUBLE AS n_docs FROM dt),
          dfs AS (SELECT word, count(*) AS df_w FROM dt GROUP BY word),
          band AS (SELECT word, df_w FROM dfs CROSS JOIN nd
                   WHERE df_w >= 2 AND df_w <= n_docs * 0.9),
          p AS (SELECT a.word AS w1, b.word AS w2, count(*) AS n_xy
                FROM dt a
                JOIN dt b ON a.doc_id = b.doc_id AND a.word < b.word
                JOIN band ba ON ba.word = a.word
                JOIN band bb ON bb.word = b.word
                GROUP BY 1, 2 HAVING count(*) >= 5),
          c AS (SELECT w1, w2, n_xy, ba.df_w AS n_x, bb.df_w AS n_y, n_docs,
                       (ba.df_w - n_xy) AS k12, (bb.df_w - n_xy) AS k21,
                       (n_docs - ba.df_w - bb.df_w + n_xy) AS k22
                FROM p JOIN band ba ON ba.word = p.w1
                       JOIN band bb ON bb.word = p.w2
                       CROSS JOIN nd)
          SELECT w1, w2, n_xy::BIGINT AS n_xy, n_x::BIGINT AS n_x, n_y::BIGINT AS n_y,
                 floor((2.0 * (
                     (CASE WHEN n_xy > 0 THEN n_xy::DOUBLE * ln(n_xy::DOUBLE * n_docs / (n_x::DOUBLE * n_y::DOUBLE)) ELSE 0.0 END)
                   + (CASE WHEN k12 > 0 THEN k12::DOUBLE * ln(k12::DOUBLE * n_docs / (n_x::DOUBLE * (n_docs - n_y)::DOUBLE)) ELSE 0.0 END)
                   + (CASE WHEN k21 > 0 THEN k21::DOUBLE * ln(k21::DOUBLE * n_docs / ((n_docs - n_x)::DOUBLE * n_y::DOUBLE)) ELSE 0.0 END)
                   + (CASE WHEN k22 > 0 THEN k22::DOUBLE * ln(k22::DOUBLE * n_docs / ((n_docs - n_x)::DOUBLE * (n_docs - n_y)::DOUBLE)) ELSE 0.0 END)
                 )) * 1e4 + 0.5) / 1e4 AS g2_r
          FROM c ORDER BY w1, w2"""),

    // -- equi-depth histogram of l_quantity (8 buckets at exact
    //    interpolated percentile boundaries, broadcast + map-side binning)
    QueryDef("q_histogram_equidepth", (s, dir) => {
      operators.Stats
        .equiDepthHistogram(t(s, dir, "lineitem"), "l_quantity", buckets = 8)
        .orderBy("bucket")
    },
      """WITH b AS (SELECT list_transform(
                             quantile_cont(l_quantity, [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]),
                             x -> floor(x * 1e6 + 0.5) / 1e6) AS bs
                    FROM lineitem)
         SELECT len(list_filter(bs, x -> x <= l_quantity))::INT AS bucket,
                count(*)::BIGINT AS n,
                floor((min(l_quantity)::DOUBLE) * 1e4 + 0.5) / 1e4 AS lo,
                floor((max(l_quantity)::DOUBLE) * 1e4 + 0.5) / 1e4 AS hi
         FROM lineitem CROSS JOIN b
         GROUP BY 1 ORDER BY bucket"""),

    // -- END-TO-END curation pipeline: PII-redact → quality gate (length +
    //    alpha fraction) → exact dedup (keep min id) → per-source cap — the
    //    composed cleaning pass a real corpus runs before tokenization
    QueryDef("q_curate_pipeline", (s, dir) => curate(t(s, dir, "documents")),
      curateSql("SELECT doc_id, lang, source, text FROM documents")),

    // -- the same curation chain FRONTED by markup stripping — the raw-
    //    crawl composition: synth-tagged docs → stripMarkup → PII redact →
    //    quality gate → exact dedup → source cap, one declarative plan
    QueryDef("q_curate_html", (s, dir) => {
      curate(t(s, dir, "documents")
        .withColumn("text", operators.CorpusClean.stripMarkup(htmlTagged)))
    },
      curateSql(
        s"""SELECT doc_id, lang, source, ${stripMarkupSql("tagged")} AS text
            FROM (SELECT doc_id, lang, source, $HtmlTaggedSql AS tagged
                  FROM documents) t0""")),

    // -- corpus snapshot diff (dataset versioning): v2 synthesized
    //    deterministically — drop ids %17, edit texts %5, add shifted
    //    copies %11 — diff is hash-compared, change-sized output
    QueryDef("q_corpus_diff", (s, dir) => {
      val v1 = t(s, dir, "documents")
      val v2 = v1
        .where(col("doc_id") % 17 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2 edit")))
            .otherwise(col("text")))
        .unionByName(
          v1.where(col("doc_id") % 11 === 0)
            .withColumn("doc_id", col("doc_id") + 1000000))
      operators.ChangeData.corpusDiff(v1, v2).orderBy("doc_id", "status")
    },
      """WITH v2 AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 5 = 0 THEN text || ' v2 edit' ELSE text END AS text
           FROM documents WHERE doc_id % 17 <> 0
           UNION ALL
           SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 11 = 0),
         o AS (SELECT doc_id, md5(text) AS oh FROM documents),
         n AS (SELECT doc_id, md5(text) AS nh FROM v2),
         d AS (SELECT doc_id,
                      CASE WHEN oh IS NULL THEN 'added'
                           WHEN nh IS NULL THEN 'removed'
                           WHEN oh <> nh THEN 'changed' END AS status
               FROM o FULL OUTER JOIN n USING (doc_id))
         SELECT doc_id, status FROM d WHERE status IS NOT NULL
         ORDER BY doc_id, status"""),

    // -- record linkage over the part-name catalog: distinct names blocked
    //    on the type word, scored by the native codegen'd Jaro-Winkler
    //    expression (DuckDB-parity, byte-wise), threshold on the ROUNDED sim
    QueryDef("q_jaro_linkage", (s, dir) => {
      operators.Linkage
        .nameMatches(t(s, dir, "part"), "p_name", blockWord = 2, threshold = 0.85)
        .orderBy("name_a", "name_b")
    },
      s"""WITH names AS (
            SELECT DISTINCT p_name AS name, split_part(p_name, ' ', 2) AS blk
            FROM part WHERE p_name IS NOT NULL)
          SELECT a.name AS name_a, b.name AS name_b,
                 ${graft.functions.Portable.proundSql("jaro_winkler_similarity(a.name, b.name)", 4)} AS sim_r
          FROM names a JOIN names b ON a.blk = b.blk AND a.name < b.name
          WHERE ${graft.functions.Portable.proundSql("jaro_winkler_similarity(a.name, b.name)", 4)} >= 0.85
          ORDER BY name_a, name_b"""),

    // -- edit-distance linkage: the ABSOLUTE typo budget (≤ 2 edits)
    //    complement to jaro's normalized scale; Spark side runs the
    //    band-limited threshold DP, integer distances — exact parity
    QueryDef("q_edit_linkage", (s, dir) =>
      operators.Linkage
        .editMatches(t(s, dir, "part"), "p_name", blockWord = 2, maxDist = 2)
        .orderBy("name_a", "name_b"),
      // integer edit distances — exact parity, no rounding anywhere
      """WITH names AS (
            SELECT DISTINCT p_name AS name, split_part(p_name, ' ', 2) AS blk
            FROM part WHERE p_name IS NOT NULL)
          SELECT a.name AS name_a, b.name AS name_b,
                 levenshtein(a.name, b.name)::INT AS dist
          FROM names a JOIN names b ON a.blk = b.blk AND a.name < b.name
          WHERE levenshtein(a.name, b.name) <= 2
          ORDER BY name_a, name_b"""),

    // -- α=1/2 exponential-smoothing forecast per stream: every weight
    //    dyadic, the whole level ONE exact integer sum scaled by 2^(L−1)
    QueryDef("q_ses_forecast", (s, dir) =>
      operators.TimeSeries.sesForecast(
        graft.sources.EventsSource.events(s, dir), window = 40),
      // dyadic weights scaled by 2^(L−1): one HUGEINT sum, exact division
      s"""WITH $DenseHourCte,
          ext AS (SELECT event_type, max(h) AS hx, min(h) AS mn FROM ser GROUP BY 1),
          ex2 AS (SELECT event_type, hx,
                         least(40, hx - mn + 1)::BIGINT AS leff FROM ext),
          pts AS (SELECT s.event_type, e.leff, e.hx - s.h AS lag, s.x
                  FROM ser s JOIN ex2 e USING (event_type)
                  WHERE e.hx - s.h < e.leff),
          ag AS (SELECT event_type, max(leff)::BIGINT AS n_points,
                        sum((x * (CASE WHEN lag = leff - 1 THEN 1::BIGINT
                                  ELSE (1::BIGINT << (leff - 2 - lag)::INT) END))::HUGEINT) AS s
                 FROM pts GROUP BY 1)
          SELECT event_type, n_points,
                 floor((s::DOUBLE / ((1::BIGINT << (n_points - 1)::INT)::DOUBLE))
                       * 1e6 + 0.5) / 1e6 AS forecast_r
          FROM ag ORDER BY event_type"""),

    // -- Holt linear-trend forecast per stream: the α=β=1/2 level/trend
    //    recursion as ONE codegen'd array fold over the sorted windowed
    //    series, 6-dp-rounded each step so the recursion replays exactly
    QueryDef("q_holt_forecast", (s, dir) =>
      operators.TimeSeries.holtForecast(
        graft.sources.EventsSource.events(s, dir), window = 40)
        .orderBy("event_type"),
      // the α=β=1/2 level/trend recursion replayed step-by-step as a
      // recursive CTE, 6-dp floor at every step (mirror of
      // TimeSeries.holtForecast's array fold)
      s"""WITH RECURSIVE $DenseHourCte,
          ext AS (SELECT event_type, max(h) AS hx FROM ser GROUP BY 1),
          w AS (SELECT s.event_type, s.x,
                       row_number() OVER (PARTITION BY s.event_type ORDER BY s.h) AS i
                FROM ser s JOIN ext e USING (event_type)
                WHERE e.hx - s.h < 40),
          np AS (SELECT event_type, max(i)::BIGINT AS n_points FROM w GROUP BY 1),
          st AS (
            SELECT event_type, 1::BIGINT AS i, x::DOUBLE AS l, 0.0::DOUBLE AS b
            FROM w WHERE i = 1
            UNION ALL
            SELECT st.event_type, st.i + 1,
                   CASE WHEN st.i = 1 THEN w.x::DOUBLE
                        ELSE floor((0.5 * w.x::DOUBLE + 0.5 * (st.l + st.b)) * 1e6 + 0.5) / 1e6
                   END,
                   CASE WHEN st.i = 1 THEN w.x::DOUBLE - st.l
                        ELSE floor((0.5 * ((floor((0.5 * w.x::DOUBLE
                                                   + 0.5 * (st.l + st.b)) * 1e6 + 0.5) / 1e6)
                                           - st.l)
                                    + 0.5 * st.b) * 1e6 + 0.5) / 1e6
                   END
            FROM st JOIN w ON w.event_type = st.event_type AND w.i = st.i + 1)
          SELECT st.event_type, np.n_points,
                 floor(st.l * 1e6 + 0.5) / 1e6 AS level_r,
                 floor(st.b * 1e6 + 0.5) / 1e6 AS trend_r,
                 floor((st.l + st.b) * 1e6 + 0.5) / 1e6 AS forecast_r
          FROM st JOIN np ON np.event_type = st.event_type AND st.i = np.n_points
          ORDER BY st.event_type"""),

    // -- Cramér's V between doc language and source: the normalized
    //    effect size the chi2 verdict leaves open
    QueryDef("q_cramers_v", (s, dir) =>
      operators.Stats.cramersV(t(s, dir, "documents"), "lang", "source"),
      // χ² = n(Σ o²/(ra·cb) − 1); V from the ROUNDED χ²
      """WITH c AS (SELECT lang AS a, source AS b, count(*)::BIGINT AS o
                    FROM documents
                    WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2),
          rt AS (SELECT a, sum(o)::BIGINT AS ra FROM c GROUP BY 1),
          ct AS (SELECT b, sum(o)::BIGINT AS cb FROM c GROUP BY 1),
          ag AS (SELECT sum(o)::BIGINT AS n,
                        count(DISTINCT c.a)::BIGINT AS levels_a,
                        count(DISTINCT c.b)::BIGINT AS levels_b,
                        sum(o::DOUBLE * o::DOUBLE / (ra::DOUBLE * cb::DOUBLE)) AS q
                 FROM c JOIN rt USING (a) JOIN ct USING (b))
          SELECT n, levels_a, levels_b,
                 floor((n::DOUBLE * (q - 1.0)) * 1e6 + 0.5) / 1e6 AS chi2_r,
                 floor((CASE WHEN least(levels_a - 1, levels_b - 1)::DOUBLE > 0.0
                        THEN sqrt((floor((n::DOUBLE * (q - 1.0)) * 1e6 + 0.5) / 1e6)
                                  / (n::DOUBLE * least(levels_a - 1, levels_b - 1)::DOUBLE))
                        END) * 1e6 + 0.5) / 1e6 AS v_r
          FROM ag"""),

    // -- CART split finder: the dollar threshold on order price that
    //    best separates urgent orders — chunked-prefix candidates,
    //    rounded-gain argmax with a total tiebreak
    QueryDef("q_best_split", (s, dir) => {
      val r = t(s, dir, "orders").select(
        floor(col("o_totalprice")).cast("long").as("price_usd"),
        col("o_orderpriority").startsWith("1").as("good"))
      operators.Stats.bestSplit(r, "price_usd", "good")
    },
      // prefix (n, good) per distinct value; gain a fixed-order scalar from
      // exact integers, ROUNDED before the (gain DESC, threshold) argmax
      """WITH r AS (SELECT floor(o_totalprice)::BIGINT AS v,
                           (o_orderpriority LIKE '1%')::INT AS y FROM orders),
          pv AS (SELECT v, count(*)::BIGINT AS c, sum(y)::BIGINT AS g
                 FROM r GROUP BY 1),
          cum AS (SELECT v, sum(c) OVER w AS nl, sum(g) OVER w AS gl
                  FROM pv WINDOW w AS (ORDER BY v)),
          tot AS (SELECT count(*)::BIGINT AS n, sum(y)::BIGINT AS gt FROM r),
          sc AS (SELECT n, v AS threshold, nl::BIGINT AS n_left,
                        (n - nl)::BIGINT AS n_right,
                        floor((
                          (1.0 - (gt::DOUBLE / n::DOUBLE) * (gt::DOUBLE / n::DOUBLE)
                               - ((n - gt)::DOUBLE / n::DOUBLE) * ((n - gt)::DOUBLE / n::DOUBLE))
                          - (nl::DOUBLE / n::DOUBLE
                               * (1.0 - (gl::DOUBLE / nl::DOUBLE) * (gl::DOUBLE / nl::DOUBLE)
                                      - ((nl - gl)::DOUBLE / nl::DOUBLE) * ((nl - gl)::DOUBLE / nl::DOUBLE))
                             + (n - nl)::DOUBLE / n::DOUBLE
                               * (1.0 - ((gt - gl)::DOUBLE / (n - nl)::DOUBLE) * ((gt - gl)::DOUBLE / (n - nl)::DOUBLE)
                                      - (((n - nl) - (gt - gl))::DOUBLE / (n - nl)::DOUBLE)
                                        * (((n - nl) - (gt - gl))::DOUBLE / (n - nl)::DOUBLE)))
                        ) * 1e6 + 0.5) / 1e6 AS gain_r
                 FROM cum CROSS JOIN tot WHERE nl < n)
          SELECT n, threshold, n_left, n_right, gain_r FROM sc
          QUALIFY row_number() OVER (ORDER BY gain_r DESC, threshold) <= 1"""),

    // -- Kendall τ-b per nation between monthly revenue and order count:
    //    the cross-measure concordance with a direct P(conc)−P(disc)
    //    reading; month²-bounded pair join, exact tie counts
    QueryDef("q_kendall_tau", (s, dir) => {
      val m = t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"),
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("mth"))
        .agg(sum(functions.Portable.pround(col("o_totalprice") * 100, 0).cast("long"))
          .as("rev_cents"),
          count(lit(1)).as("n_orders"))
      operators.Stats.kendallTau(m, "nation", "mth", "rev_cents", "n_orders")
    },
      // month²-bounded pairs; C/D/tie counts exact, τ one fixed-order scalar
      """WITH m AS (SELECT n_name AS nation,
                           (year(o_orderdate) * 12 + month(o_orderdate))::BIGINT AS mth,
                           sum(floor(o_totalprice * 100 + 0.5)::BIGINT)::BIGINT AS x,
                           count(*)::BIGINT AS y
                    FROM orders JOIN customer ON o_custkey = c_custkey
                    JOIN nation ON c_nationkey = n_nationkey GROUP BY 1, 2),
          pg AS (SELECT nation, count(*)::BIGINT AS n FROM m GROUP BY 1),
          p AS (SELECT a.nation, sign((a.x - b.x)::DOUBLE) AS sx,
                       sign((a.y - b.y)::DOUBLE) AS sy
                FROM m a JOIN m b ON a.nation = b.nation AND a.mth < b.mth),
          ag AS (SELECT nation,
                        sum((sx * sy > 0)::INT)::BIGINT AS concordant,
                        sum((sx * sy < 0)::INT)::BIGINT AS discordant,
                        sum((sx = 0)::INT)::BIGINT AS tx,
                        sum((sy = 0)::INT)::BIGINT AS ty
                 FROM p GROUP BY 1)
          SELECT ag.nation, n, concordant, discordant,
                 floor((CASE WHEN ((n * (n - 1) / 2)::DOUBLE - tx::DOUBLE)
                                  * ((n * (n - 1) / 2)::DOUBLE - ty::DOUBLE) > 0.0
                        THEN (concordant - discordant)::DOUBLE
                             / sqrt(((n * (n - 1) / 2)::DOUBLE - tx::DOUBLE)
                                    * ((n * (n - 1) / 2)::DOUBLE - ty::DOUBLE)) END)
                       * 1e6 + 0.5) / 1e6 AS tau_r
          FROM ag JOIN pg USING (nation) ORDER BY nation"""),

    // -- Theil T spend inequality with the exact within/between-nation
    //    decomposition — "is inequality a nation story?" in one relation
    QueryDef("q_theil_index", (s, dir) => {
      val cust = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(functions.Portable.pround(col("o_totalprice") * 100, 0).cast("long"))
          .as("spend_cents"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name").as("nation"), col("spend_cents"))
      operators.Stats.theilDecomposition(cust, "nation", "spend_cents")
    },
      // exact integer ratios inside every ln; within sums member doubles
      """WITH cust AS (SELECT o_custkey,
                              sum(floor(o_totalprice * 100 + 0.5)::BIGINT)::BIGINT AS x
                       FROM orders GROUP BY 1),
          u AS (SELECT n_name AS nation, x
                FROM cust JOIN customer ON o_custkey = c_custkey
                JOIN nation ON c_nationkey = n_nationkey WHERE x > 0),
          per AS (SELECT nation, count(*)::BIGINT AS ng, sum(x)::HUGEINT AS xg
                  FROM u GROUP BY 1),
          tot AS (SELECT sum(ng)::BIGINT AS nt, sum(xg) AS xt FROM per),
          w AS (SELECT u.nation,
                       sum((u.x::DOUBLE / per.xg::DOUBLE)
                           * ln(u.x::DOUBLE * per.ng::DOUBLE / per.xg::DOUBLE)) AS tw
                FROM u JOIN per USING (nation) GROUP BY 1)
          SELECT per.nation, ng AS n_units,
                 floor((xg::DOUBLE / xt::DOUBLE) * 1e6 + 0.5) / 1e6 AS share_r,
                 floor(tw * 1e6 + 0.5) / 1e6 AS t_within_r,
                 floor(((xg::DOUBLE / xt::DOUBLE)
                        * ln(xg::DOUBLE * nt::DOUBLE / (xt::DOUBLE * ng::DOUBLE)))
                       * 1e6 + 0.5) / 1e6 AS t_between_r
          FROM per JOIN w USING (nation) CROSS JOIN tot ORDER BY nation"""),

    // -- bloom sizing advisor: per event type, the optimal filter
    //    geometry for its user population, sized from the replayable
    //    KMV sketch — the metadata twin of q_bloom_join's runtime filter
    QueryDef("q_bloom_plan", (s, dir) =>
      operators.Layout.bloomPlan(
        graft.sources.EventsSource.events(s, dir)
          .selectExpr("event_type", "concat('u', cast(user_id AS string)) AS k"),
        "event_type", "k", k = 64, targetFpp = 0.01),
      // the KMV estimate replays exactly; geometry from Scala-emitted
      // constants on the ROUNDED estimate
      s"""WITH h AS (SELECT DISTINCT event_type, 'u' || user_id::VARCHAR AS key,
                            ('0x' || substr(md5('u' || user_id::VARCHAR), 1, 15))::BIGINT AS h
                     FROM events),
          b AS (SELECT event_type, h,
                       row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
                FROM h),
          g AS (SELECT event_type, count(*) AS nd FROM h GROUP BY 1),
          kth AS (SELECT event_type, max(h) AS kh FROM b WHERE rn <= 64 GROUP BY 1),
          nv AS (SELECT g.event_type,
                        CASE WHEN g.nd < 64 THEN g.nd::DOUBLE
                             ELSE floor((63.0 / (kth.kh::DOUBLE / 1152921504606846976.0))
                                        * 1e4 + 0.5) / 1e4
                        END AS ndv_est
                 FROM g JOIN kth USING (event_type)),
          pl AS (SELECT event_type, ndv_est,
                        ceil(ndv_est * ${-math.log(0.01) / (math.log(2.0) * math.log(2.0))})::BIGINT AS m_bits
                 FROM nv),
          pl2 AS (SELECT *, greatest(1, ceil(m_bits::DOUBLE / ndv_est
                                             * ${math.log(2.0)})::BIGINT) AS k_hashes
                  FROM pl)
          SELECT event_type, ndv_est, m_bits, k_hashes,
                 floor(pow(1.0 - exp(-(k_hashes::DOUBLE * ndv_est) / m_bits::DOUBLE),
                           k_hashes::DOUBLE) * 1e6 + 0.5) / 1e6 AS fpp_r
          FROM pl2 ORDER BY event_type"""),

    // -- bivariate Mahalanobis outliers: (quantity, price) pairs far off
    //    the correlation ridge that both univariate screens would pass
    QueryDef("q_mahalanobis", (s, dir) => {
      val r = t(s, dir, "lineitem").select(
        (col("l_orderkey") * 8 + col("l_linenumber")).as("id"),
        col("l_quantity").cast("long").as("l_quantity"),
        functions.Portable.pround(col("l_extendedprice") * 100, 0).cast("long")
          .as("price_cents"))
      operators.Stats.mahalanobisOutliers(r, "id", "l_quantity", "price_cents", k = 20)
    },
      // moments ROUNDED into scalars; distance a fixed-order map-side
      // expression; (d2 DESC, id) total-order cut
      """WITH r AS (SELECT l_orderkey * 8 + l_linenumber AS id,
                           l_quantity::BIGINT AS x,
                           floor(l_extendedprice * 100 + 0.5)::BIGINT AS y
                    FROM lineitem),
          st AS (SELECT count(*)::BIGINT AS n, sum(x)::HUGEINT AS sx,
                        sum(y)::HUGEINT AS sy, sum(x::HUGEINT * x) AS sxx,
                        sum(y::HUGEINT * y) AS syy, sum(x::HUGEINT * y) AS sxy
                 FROM r),
          m AS (SELECT n,
                  floor((sx::DOUBLE / n::DOUBLE) * 1e6 + 0.5) / 1e6 AS mx,
                  floor((sy::DOUBLE / n::DOUBLE) * 1e6 + 0.5) / 1e6 AS my,
                  floor((sxx::DOUBLE / n::DOUBLE
                         - (sx::DOUBLE / n::DOUBLE) * (sx::DOUBLE / n::DOUBLE))
                        * 1e6 + 0.5) / 1e6 AS vx,
                  floor((syy::DOUBLE / n::DOUBLE
                         - (sy::DOUBLE / n::DOUBLE) * (sy::DOUBLE / n::DOUBLE))
                        * 1e6 + 0.5) / 1e6 AS vy,
                  floor((sxy::DOUBLE / n::DOUBLE
                         - (sx::DOUBLE / n::DOUBLE) * (sy::DOUBLE / n::DOUBLE))
                        * 1e6 + 0.5) / 1e6 AS cxy
                FROM st),
          d AS (SELECT id, x, y,
                  floor((((x::DOUBLE - mx) * (x::DOUBLE - mx) * vy
                          - 2.0 * (x::DOUBLE - mx) * (y::DOUBLE - my) * cxy
                          + (y::DOUBLE - my) * (y::DOUBLE - my) * vx)
                         / (vx * vy - cxy * cxy)) * 1e4 + 0.5) / 1e4 AS d2_r
                FROM r CROSS JOIN m WHERE vx * vy - cxy * cxy > 0.0)
          SELECT id, x AS l_quantity, y AS price_cents, d2_r FROM d
          QUALIFY row_number() OVER (ORDER BY d2_r DESC, id) <= 20
          ORDER BY d2_r DESC, id"""),

    // -- per-doc shingle novelty: share of this doc's k-grams first seen
    //    HERE — the memorization/boilerplate dial, Heaps' per-doc twin
    QueryDef("q_novelty", (s, dir) =>
      TextAnalysis.noveltyProfile(t(s, dir, "documents"), "text", k = 3),
      // first occurrence = min doc_id per shingle over the whole corpus
      s"""WITH ${shinglesCte(3)},
          ex AS (SELECT doc_id, unnest(shingles) AS sh FROM sh),
          fs AS (SELECT sh, min(doc_id) AS first_doc FROM ex GROUP BY 1)
          SELECT ex.doc_id, count(*)::BIGINT AS n_shingles,
                 sum((fs.first_doc = ex.doc_id)::INT)::BIGINT AS n_novel,
                 floor((sum((fs.first_doc = ex.doc_id)::INT)::DOUBLE
                        / count(*)::DOUBLE) * 1e6 + 0.5) / 1e6 AS novelty_r
          FROM ex JOIN fs USING (sh)
          GROUP BY ex.doc_id ORDER BY ex.doc_id"""),

    // -- MI feature ranking: how much label uncertainty each categorical
    //    column removes, with the H(label)-normalized share
    QueryDef("q_feature_mi", (s, dir) =>
      operators.Stats.mutualInformation(
        t(s, dir, "documents").withColumn("long_doc", col("n_chars") >= 300),
        Seq("lang", "source"), "long_doc"),
      // MI on exact integer ratios; MI and H rounded before the share
      (Seq("lang", "source").map { f =>
        s"""(WITH j AS (SELECT $f AS x, (n_chars >= 300)::INT AS y,
                               count(*)::BIGINT AS c
                        FROM documents
                        WHERE $f IS NOT NULL AND n_chars IS NOT NULL
                        GROUP BY 1, 2),
             rx AS (SELECT x, sum(c)::BIGINT AS cx FROM j GROUP BY 1),
             ry AS (SELECT y, sum(c)::BIGINT AS cy FROM j GROUP BY 1),
             tot AS (SELECT sum(c)::BIGINT AS n,
                            count(DISTINCT x)::BIGINT AS levels FROM j),
             mi AS (SELECT max(levels)::BIGINT AS levels,
                           floor(sum((c::DOUBLE / n::DOUBLE)
                                     * ln((c::DOUBLE * n::DOUBLE)
                                          / (cx::DOUBLE * cy::DOUBLE))) * 1e6 + 0.5) / 1e6 AS mi_r
                    FROM j JOIN rx USING (x) JOIN ry USING (y) CROSS JOIN tot),
             h AS (SELECT floor(sum(-(cy::DOUBLE / n::DOUBLE)
                                    * ln(cy::DOUBLE / n::DOUBLE)) * 1e6 + 0.5) / 1e6 AS hh
                   FROM ry CROSS JOIN tot)
             SELECT '$f' AS feature, levels, mi_r,
                    floor((CASE WHEN hh > 0.0 THEN mi_r / hh END) * 1e4 + 0.5) / 1e4 AS nmi_r
             FROM mi CROSS JOIN h)"""
      }.mkString("\nUNION ALL\n") + "\nORDER BY feature")),

    // -- exact Shapley channel attribution: average marginal credit over
    //    ALL orderings — 2ⁿ masks are metadata, so the "exponential" sum
    //    is a tiny self-join; the corpus pays one bitmask pass
    QueryDef("q_shapley_attrib", (s, dir) =>
      operators.Journeys.shapleyAttribution(
        graft.sources.EventsSource.events(s, dir),
        channels = Seq("click", "view", "signup", "error"),
        outcomeType = "purchase"),
      shapleySql(Seq("click", "view", "signup", "error"), "purchase")),

    // -- entity resolution end-to-end: edit-distance pairs → connected
    //    components → canonical (min) name + cluster size per member
    QueryDef("q_er_end2end", (s, dir) => {
      val pairs = operators.Linkage
        .editMatches(t(s, dir, "part"), "p_name", blockWord = 2, maxDist = 2)
      val groups = Dedup.duplicateGroups(pairs, "name_a", "name_b")
      val sizes = groups.groupBy(col("group_id")).agg(count(lit(1)).as("cluster_size"))
      groups.join(sizes, Seq("group_id"))
        .select(col("doc_id").as("name"), col("group_id").as("canonical"),
          col("cluster_size"))
        .orderBy("name")
    },
      // recursive closure over the edit pairs; canonical = min member
      """WITH RECURSIVE names AS (
            SELECT DISTINCT p_name AS name, split_part(p_name, ' ', 2) AS blk
            FROM part WHERE p_name IS NOT NULL),
          pr AS (SELECT a.name AS na, b.name AS nb
                 FROM names a JOIN names b ON a.blk = b.blk AND a.name < b.name
                 WHERE levenshtein(a.name, b.name) <= 2),
          edges AS (SELECT na AS src, nb AS dst FROM pr
                    UNION ALL SELECT nb, na FROM pr),
          reach(v, lbl) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.v = e.dst),
          grp AS (SELECT v AS name, min(lbl) AS canonical FROM reach GROUP BY v),
          sz AS (SELECT canonical, count(*)::BIGINT AS cluster_size
                 FROM grp GROUP BY 1)
          SELECT name, canonical, cluster_size
          FROM grp JOIN sz USING (canonical) ORDER BY name""",
      Some(Iteration(
        "early-exit: same observe()-fixpoint cc loop as q_dedup_groups, name-keyed",
        // round 14: the ER pipeline's cc round over the edit-pair graph —
        // same hash-to-min body as q_dedup_groups, name-keyed
        (s, dir) => {
          val pairs = graft.operators.Linkage.editMatches(
            s.read.parquet(s"$dir/part.parquet"), "p_name", blockWord = 2, maxDist = 2)
          Dedup.ccRoundPlan(pairs.select(col("name_a").as("doc1"), col("name_b").as("doc2")))
        }))),

    // -- sample-ratio-mismatch tripwire: χ² GOF of the md5 8-way split
    //    against uniform, Wilson–Hilferty z — the assignment-integrity
    //    gate every experiment readout depends on
    QueryDef("q_srm", (s, dir) => {
      val b = t(s, dir, "orders").select(
        pmod(Sampling.sampleHash(col("o_orderkey"), "srm"), lit(8L)).as("bucket"))
      operators.Stats.srmCheck(b, "bucket", k = 8)
    },
      // χ² from the k-spined exact counts; W–H constants Scala-emitted
      s"""WITH b AS (SELECT ('0x' || substr(md5('srm:' || o_orderkey::VARCHAR), 1, 8))::BIGINT % 8 AS bucket
                     FROM orders),
          obs AS (SELECT bucket, count(*)::BIGINT AS o FROM b GROUP BY 1),
          sp AS (SELECT unnest(range(0, 8))::BIGINT AS bucket),
          cells AS (SELECT sp.bucket, coalesce(obs.o, 0)::BIGINT AS o
                    FROM sp LEFT JOIN obs USING (bucket)),
          tot AS (SELECT sum(o)::BIGINT AS n FROM cells),
          ag AS (SELECT max(n)::BIGINT AS n,
                        sum((o::DOUBLE - n::DOUBLE / 8.0) * (o::DOUBLE - n::DOUBLE / 8.0)
                            / (n::DOUBLE / 8.0)) AS chi2
                 FROM cells CROSS JOIN tot)
          SELECT 8::INT AS k, n,
                 floor(chi2 * 1e4 + 0.5) / 1e4 AS chi2_r,
                 floor(((cbrt((floor(chi2 * 1e4 + 0.5) / 1e4) / 7.0) - ${1.0 - 2.0 / (9.0 * 7.0)})
                        / ${math.sqrt(2.0 / (9.0 * 7.0))}) * 1e4 + 0.5) / 1e4 AS z_r,
                 (floor(((cbrt((floor(chi2 * 1e4 + 0.5) / 1e4) / 7.0) - ${1.0 - 2.0 / (9.0 * 7.0)})
                        / ${math.sqrt(2.0 / (9.0 * 7.0))}) * 1e4 + 0.5) / 1e4 > 1.959964) AS srm
          FROM ag"""),

    // -- multi-source BFS: hop distance from two seed customers over the
    //    sparse trade graph — min-label propagation, fixpoint-certified
    //    round count, unreached nodes absent
    QueryDef("q_bfs_dist", (s, dir) =>
      // r21: numeric node keys (q_pagerank note); seeds c1/c2 relabel to
      // +2/+3, hop distances are min-label integers (relabeling-invariant),
      // string ids reconstructed for the declared output order.
      operators.Graph.bfsDistances(
        operators.Graph.sameNationEdgesNum(t(s, dir, "orders"), t(s, dir, "lineitem"),
          t(s, dir, "customer"), t(s, dir, "supplier")),
        seeds = Seq(2L, 3L), rounds = 6)
        .select(operators.Graph.csNodeStr(col("node")).as("node"), col("dist"))
        .orderBy("node"),
      bfsSql(Seq("c1", "c2"), rounds = 6),
      Some(Iteration(
        "early-exit: count-fixpoint per frontier round (min-label BFS reaches " +
          "each node at true distance on first touch, so an unchanged row count certifies the " +
          "fixpoint — Graph.bfsDistances)",
        // round 14: one BFS frontier round — edge join against the reached
        // relation + partial-agg min; the real loop checkpoints each round
        (s, dir) => {
          import graft.operators.Graph
          val e = Graph.undirected(Graph.sameNationEdgesNum(
            s.read.parquet(s"$dir/orders.parquet"),
            s.read.parquet(s"$dir/lineitem.parquet"),
            s.read.parquet(s"$dir/customer.parquet"),
            s.read.parquet(s"$dir/supplier.parquet")))
          val seed = e.where(col("src").isin(2L, 3L))
            .select(col("src").as("node")).distinct()
            .withColumn("dist", lit(0L))
          seed.unionAll(
            e.join(seed.withColumnRenamed("node", "src"), Seq("src"))
              .select(col("dst").as("node"), (col("dist") + 1L).as("dist")))
            .groupBy(col("node")).agg(min(col("dist")).as("dist"))
        }))),

    // -- edge embeddedness over the brand graph: common neighbors per
    //    edge + neighborhood Jaccard + the local-bridge flag — which
    //    co-occurrence ties are load-bearing and which are weak/noise
    QueryDef("q_edge_embeddedness", (s, dir) =>
      operators.Graph.edgeEmbeddedness(
        operators.Graph.brandCooccurrenceEdges(t(s, dir, "lineitem"), t(s, dir, "part")))
        .orderBy("src", "dst"),
      // wedge join through each edge's endpoints over the symmetrized
      // adjacency; left join keeps zero-common (bridge) edges
      """WITH ob AS (SELECT DISTINCT l_orderkey AS ok, p_brand AS brand
                     FROM lineitem JOIN part ON l_partkey = p_partkey),
          e AS (SELECT DISTINCT a.brand AS src, b.brand AS dst
                FROM ob a JOIN ob b ON a.ok = b.ok AND a.brand < b.brand),
          adj AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
          d AS (SELECT src AS node, count(*)::BIGINT AS deg FROM adj GROUP BY 1),
          cm AS (SELECT e.src, e.dst, count(*)::BIGINT AS n_common
                 FROM e
                 JOIN adj a1 ON a1.src = e.src
                 JOIN adj a2 ON a2.src = e.dst AND a2.dst = a1.dst
                 GROUP BY e.src, e.dst),
          f AS (SELECT e.src, e.dst, coalesce(cm.n_common, 0)::BIGINT AS n_common
                FROM e LEFT JOIN cm ON cm.src = e.src AND cm.dst = e.dst)
          SELECT f.src, f.dst, f.n_common,
                 CASE WHEN du.deg + dv.deg - 2 - f.n_common > 0
                      THEN floor((f.n_common::DOUBLE
                                  / (du.deg + dv.deg - 2 - f.n_common)::DOUBLE) * 1e6 + 0.5) / 1e6
                 END AS jaccard_r,
                 (f.n_common = 0) AS is_bridge
          FROM f JOIN d du ON du.node = f.src JOIN d dv ON dv.node = f.dst
          ORDER BY f.src, f.dst"""),

    // -- landmark harmonic closeness over the trade graph: sum of 1/d
    //    to four fixed landmarks — the O(L·E) closeness ranking, per-seed
    //    min-label BFS with 6dp-scaled exact term sums
    QueryDef("q_closeness_landmarks", (s, dir) =>
      // r21: numeric node keys (q_pagerank note); landmarks c1/c2/s3/s7
      // relabel to +2/+3/−4/−8, per-(seed,node) min distances and the
      // 1e6-scaled exact harmonic sums are relabeling-invariant.
      operators.Graph.landmarkCloseness(
        operators.Graph.sameNationEdgesNum(t(s, dir, "orders"), t(s, dir, "lineitem"),
          t(s, dir, "customer"), t(s, dir, "supplier")),
        seeds = Seq(2L, 3L, -4L, -8L), rounds = 6)
        .select(operators.Graph.csNodeStr(col("node")).as("node"),
          col("n_reached"), col("harm_r"))
        .orderBy("node"),
      landmarkSql(Seq("c1", "c2", "s3", "s7"), rounds = 6),
      Some(Iteration(
        "early-exit: count-fixpoint on (seed, node) rows — " +
          "Graph.landmarkCloseness, same argument as q_bfs_dist",
        // round 14 session 2: one landmark-BFS frontier round — q_bfs_dist's
        // body with the seed carried through the label (state L·N-bounded)
        (s, dir) => {
          import graft.operators.Graph
          val e = Graph.undirected(Graph.sameNationEdgesNum(
            s.read.parquet(s"$dir/orders.parquet"),
            s.read.parquet(s"$dir/lineitem.parquet"),
            s.read.parquet(s"$dir/customer.parquet"),
            s.read.parquet(s"$dir/supplier.parquet")))
          val seed = e.where(col("src").isin(2L, 3L, -4L, -8L))
            .select(col("src").as("seed"), col("src").as("node")).distinct()
            .withColumn("dist", lit(0L))
          seed.unionAll(
            e.join(seed.withColumnRenamed("node", "src"), Seq("src"))
              .select(col("seed"), col("dst").as("node"), (col("dist") + 1L).as("dist")))
            .groupBy(col("seed"), col("node")).agg(min(col("dist")).as("dist"))
        }))),

    // -- MASE backtest: hold out each stream's last hour, SES-forecast
    //    it, scale the error by the in-sample seasonal-naive MAE
    QueryDef("q_mase", (s, dir) =>
      operators.TimeSeries.maseBacktest(
        graft.sources.EventsSource.events(s, dir), window = 40, season = 24),
      // holdout = last hour; dyadic SES forecast from the rest; error
      // scaled by the exact-integer seasonal-naive MAE
      s"""WITH $DenseHourCte,
          ext AS (SELECT event_type, max(h) AS hx, min(h) AS mn FROM ser GROUP BY 1),
          ex2 AS (SELECT event_type, hx, least(40, hx - mn)::BIGINT AS leff
                  FROM ext WHERE hx - mn >= 1),
          pts AS (SELECT s.event_type, e.leff, e.hx - 1 - s.h AS lag, s.x
                  FROM ser s JOIN ex2 e USING (event_type)
                  WHERE s.h < e.hx AND e.hx - 1 - s.h < e.leff),
          ag AS (SELECT event_type, max(leff)::BIGINT AS n_train,
                        sum((x * (CASE WHEN lag = leff - 1 THEN 1::BIGINT
                                  ELSE (1::BIGINT << (leff - 2 - lag)::INT) END))::HUGEINT) AS s
                 FROM pts GROUP BY 1),
          fc AS (SELECT event_type, n_train,
                        floor((s::DOUBLE / ((1::BIGINT << (n_train - 1)::INT)::DOUBLE))
                              * 1e6 + 0.5) / 1e6 AS forecast_r
                 FROM ag),
          act AS (SELECT s.event_type, s.x AS actual
                  FROM ser s JOIN ex2 e USING (event_type) WHERE s.h = e.hx),
          nv AS (SELECT s1.event_type, sum(abs(s1.x - s2.x))::BIGINT AS sad,
                        count(*)::BIGINT AS nsn
                 FROM ser s1
                 JOIN ser s2 ON s1.event_type = s2.event_type AND s1.h = s2.h + 24
                 JOIN ex2 e ON e.event_type = s1.event_type
                 WHERE s1.h < e.hx GROUP BY 1)
          SELECT fc.event_type, n_train, actual, forecast_r,
                 floor((CASE WHEN nsn > 0 AND sad > 0
                        THEN abs(forecast_r - actual::DOUBLE)
                             / (sad::DOUBLE / nsn::DOUBLE) END)
                       * 1e4 + 0.5) / 1e4 AS mase_r
          FROM fc JOIN act USING (event_type) LEFT JOIN nv USING (event_type)
          ORDER BY event_type"""),

    // -- RAKE keyphrases: stopword-free runs scored Σ deg/freq — the
    //    multi-word domain-term board tf-idf keywords can't produce
    QueryDef("q_rake", (s, dir) =>
      TextAnalysis.rakePhrases(t(s, dir, "documents"), "text", k = 20),
      // gaps-and-islands runs; per-INSTANCE scores rounded before identical
      // phrases collapse; (score DESC, phrase) total order
      s"""WITH $ToksArrCte,
          p AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos,
                       unnest(toks) AS word
                FROM toks_arr),
          ns AS (SELECT doc_id, pos, word,
                        pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
                 FROM p
                 WHERE word NOT IN ('the','a','an','and','of','to','in','is','it','for')),
          ph AS (SELECT doc_id, grp, count(*)::BIGINT AS plen,
                        string_agg(word, ' ' ORDER BY pos) AS phrase
                 FROM ns GROUP BY 1, 2),
          ws AS (SELECT ns.word, count(*)::BIGINT AS freq, sum(ph.plen)::BIGINT AS deg
                 FROM ns JOIN ph USING (doc_id, grp) GROUP BY 1),
          inst AS (SELECT ph.doc_id, ph.grp, ph.phrase,
                          floor(sum(ws.deg::DOUBLE / ws.freq::DOUBLE) * 1e4 + 0.5) / 1e4 AS s_r
                   FROM ns JOIN ph USING (doc_id, grp) JOIN ws USING (word)
                   GROUP BY 1, 2, 3)
          SELECT phrase, count(*)::BIGINT AS n_instances, max(s_r) AS score_r
          FROM inst GROUP BY phrase
          QUALIFY row_number() OVER (ORDER BY max(s_r) DESC, phrase) <= 20
          ORDER BY score_r DESC, phrase"""),

    // -- per-cohort uplift of purchases among clickers vs non-clickers,
    //    with the pooled two-proportion z alongside
    QueryDef("q_uplift", (s, dir) =>
      operators.Journeys.uplift(
        graft.sources.EventsSource.events(s, dir), "click", "purchase", cohorts = 4),
      // exposure/outcome flags per user; uplift and pooled z fixed-order
      """WITH per AS (SELECT user_id,
                             max((event_type = 'click')::INT)::BIGINT AS t,
                             max((event_type = 'purchase')::INT)::BIGINT AS y
                      FROM events GROUP BY 1),
          ag AS (SELECT user_id % 4 AS cohort,
                        sum(t)::BIGINT AS n_treat, sum(t * y)::BIGINT AS conv_treat,
                        sum(1 - t)::BIGINT AS n_ctrl,
                        sum((1 - t) * y)::BIGINT AS conv_ctrl
                 FROM per GROUP BY 1)
          SELECT cohort, n_treat, conv_treat, n_ctrl, conv_ctrl,
                 floor((CASE WHEN n_treat > 0 AND n_ctrl > 0
                        THEN conv_treat::DOUBLE / n_treat::DOUBLE
                             - conv_ctrl::DOUBLE / n_ctrl::DOUBLE END)
                       * 1e6 + 0.5) / 1e6 AS uplift_r,
                 floor((CASE WHEN n_treat > 0 AND n_ctrl > 0
                             AND ((conv_treat + conv_ctrl)::DOUBLE / (n_treat + n_ctrl)::DOUBLE)
                                 * (1.0 - (conv_treat + conv_ctrl)::DOUBLE / (n_treat + n_ctrl)::DOUBLE)
                                 * (1.0 / n_treat::DOUBLE + 1.0 / n_ctrl::DOUBLE) > 0.0
                        THEN (conv_treat::DOUBLE / n_treat::DOUBLE
                              - conv_ctrl::DOUBLE / n_ctrl::DOUBLE)
                             / sqrt(((conv_treat + conv_ctrl)::DOUBLE / (n_treat + n_ctrl)::DOUBLE)
                                    * (1.0 - (conv_treat + conv_ctrl)::DOUBLE / (n_treat + n_ctrl)::DOUBLE)
                                    * (1.0 / n_treat::DOUBLE + 1.0 / n_ctrl::DOUBLE)) END)
                       * 1e6 + 0.5) / 1e6 AS z_r
          FROM ag ORDER BY cohort"""),

    // -- Dirichlet query-likelihood retrieval: the language-modeling
    //    ranker where idf and length normalization FALL OUT of the
    //    smoothing — absent terms contribute their smoothing mass
    QueryDef("q_search_qld", (s, dir) =>
      Search
        .qldQuery(
          Tokenize.tokens(t(s, dir, "documents"), "text", Seq("doc_id")),
          Seq("spark", "vector", "window"), mu = 2000.0)
        .select(col("doc_id"),
          functions.Portable.pround(col("score"), 4).as("score_r"))
        .orderBy(desc("score_r"), asc("doc_id")),
      // candidates = docs with ≥1 term; every candidate scored over ALL
      // surviving terms (tf 0 ⇒ smoothing mass); ln parity at 4 dp
      s"""WITH $TokCte,
          dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM tok GROUP BY doc_id),
          ctot AS (SELECT count(*)::BIGINT AS ctot FROM tok),
          ctf AS (SELECT word, count(*)::BIGINT AS ctf FROM tok
                  WHERE word IN ('spark', 'vector', 'window') GROUP BY word),
          tf AS (SELECT doc_id, word, count(*)::BIGINT AS tf FROM tok
                 WHERE word IN ('spark', 'vector', 'window') GROUP BY doc_id, word),
          cand AS (SELECT DISTINCT doc_id FROM tf),
          grid AS (SELECT c.doc_id, w.word, w.ctf, coalesce(tf.tf, 0)::BIGINT AS tf
                   FROM cand c CROSS JOIN ctf w
                   LEFT JOIN tf ON tf.doc_id = c.doc_id AND tf.word = w.word)
          SELECT doc_id,
                 floor((sum(ln((tf::DOUBLE + 2000.0 * (ctf::DOUBLE / ctot::DOUBLE))
                               / (dl::DOUBLE + 2000.0)))) * 1e4 + 0.5) / 1e4 AS score_r
          FROM grid JOIN dl USING (doc_id) CROSS JOIN ctot
          GROUP BY doc_id ORDER BY score_r DESC, doc_id"""),

    // -- Wilson score CI per source on the long-doc share: the
    //    proportion interval that still covers at extreme rates
    QueryDef("q_wilson_ci", (s, dir) =>
      operators.Stats.wilsonCi(
        t(s, dir, "documents")
          .select(col("source"), (col("n_chars") >= 300).as("long_doc")),
        "source", "long_doc"),
      // fixed-order Wilson scalars from exact (n, successes)
      """WITH per AS (SELECT source, count(*)::BIGINT AS n,
                             sum((n_chars >= 300)::INT)::BIGINT AS successes
                      FROM documents
                      WHERE source IS NOT NULL AND n_chars IS NOT NULL
                      GROUP BY 1)
          SELECT source, n, successes,
                 floor((successes::DOUBLE / n::DOUBLE) * 1e6 + 0.5) / 1e6 AS p_r,
                 floor((((successes::DOUBLE / n::DOUBLE
                          + 1.959964 * 1.959964 / (2.0 * n::DOUBLE))
                         / (1.0 + 1.959964 * 1.959964 / n::DOUBLE))
                        - (1.959964 * sqrt((successes::DOUBLE / n::DOUBLE)
                               * (1.0 - successes::DOUBLE / n::DOUBLE) / n::DOUBLE
                             + 1.959964 * 1.959964 / (4.0 * (n::DOUBLE * n::DOUBLE)))
                           / (1.0 + 1.959964 * 1.959964 / n::DOUBLE)))
                       * 1e6 + 0.5) / 1e6 AS lo_r,
                 floor((((successes::DOUBLE / n::DOUBLE
                          + 1.959964 * 1.959964 / (2.0 * n::DOUBLE))
                         / (1.0 + 1.959964 * 1.959964 / n::DOUBLE))
                        + (1.959964 * sqrt((successes::DOUBLE / n::DOUBLE)
                               * (1.0 - successes::DOUBLE / n::DOUBLE) / n::DOUBLE
                             + 1.959964 * 1.959964 / (4.0 * (n::DOUBLE * n::DOUBLE)))
                           / (1.0 + 1.959964 * 1.959964 / n::DOUBLE)))
                       * 1e6 + 0.5) / 1e6 AS hi_r
          FROM per ORDER BY source"""),

    // -- BH-FDR screening: per-lang two-proportion z vs the complement,
    //    p-values through the portable A&S normal tail (both engines run
    //    the identical Horner sequence on the ROUNDED z), then
    //    Benjamini–Hochberg at q=0.2 — the multiple-comparisons gate
    QueryDef("q_bh_fdr", (s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("lang"), (col("n_chars") >= 300).as("long_doc"))
      val z = operators.Stats.twoProportionZ(d, "lang", "long_doc")
      val p = z.withColumn("p_r",
        functions.Portable.pround(functions.Portable.normTwoSidedP(col("z_r")), 6))
      operators.Stats.bhAdjust(p, "p_r", "lang", q = 0.2)
    },
      // z from exact counts ROUNDED first; p through the identical A&S
      // Horner sequence; verdicts compare rounded p to rounded criterion
      s"""WITH b AS (SELECT lang AS g, (n_chars >= 300)::INT AS y
                     FROM documents
                     WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
          pg AS (SELECT g, count(*)::BIGINT AS n, sum(y)::BIGINT AS gg
                 FROM b GROUP BY 1),
          tt AS (SELECT sum(n)::BIGINT AS nt, sum(gg)::BIGINT AS gt FROM pg),
          zz AS (SELECT g AS lang, n, gg AS successes,
                        ${graft.functions.Portable.proundSql(
        """CASE WHEN nt > n
                AND (gt::DOUBLE / nt::DOUBLE) * (1.0 - gt::DOUBLE / nt::DOUBLE)
                    * (1.0 / n::DOUBLE + 1.0 / (nt - n)::DOUBLE) > 0.0
           THEN (gg::DOUBLE / n::DOUBLE - (gt - gg)::DOUBLE / (nt - n)::DOUBLE)
                / sqrt((gt::DOUBLE / nt::DOUBLE) * (1.0 - gt::DOUBLE / nt::DOUBLE)
                       * (1.0 / n::DOUBLE + 1.0 / (nt - n)::DOUBLE)) END""", 6)} AS z_r
                 FROM pg CROSS JOIN tt),
          pp AS (SELECT lang, n, successes, z_r,
                        ${graft.functions.Portable.proundSql(
        graft.functions.Portable.normTwoSidedPSql("z_r"), 6)} AS p_r
                 FROM zz),
          mm AS (SELECT count(*)::BIGINT AS m FROM pp),
          rk AS (SELECT pp.*, m,
                        row_number() OVER (ORDER BY p_r NULLS FIRST, lang) AS "rank"
                 FROM pp CROSS JOIN mm),
          cr AS (SELECT lang, n, successes, z_r, p_r, "rank",
                        floor((0.2 * "rank"::DOUBLE / m::DOUBLE) * 1e6 + 0.5) / 1e6 AS crit_r
                 FROM rk),
          km AS (SELECT max(CASE WHEN p_r <= crit_r THEN "rank" END) AS kmax FROM cr)
          SELECT lang, n, successes, z_r, p_r, "rank", crit_r,
                 coalesce("rank" <= kmax, false) AS rejected
          FROM cr CROSS JOIN km ORDER BY "rank""""),

    // -- Friedman test: do event types differ in daily volume once the
    //    per-day level is blocked out — within-day ranks, complete
    //    blocks only, tie-corrected denominator
    QueryDef("q_friedman", (s, dir) => {
      val daily = graft.sources.EventsSource.events(s, dir)
        .groupBy(to_date(col("ts_t")).cast("string").as("day"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
      operators.Stats.friedman(daily, "day", "event_type", "cnt")
    },
      // within-day ranks over complete blocks; doubled tie ranks 2r+t−1
      // exact, A−C denominator, one fixed-order scalar
      """WITH d AS (SELECT (ts::TIMESTAMP)::DATE AS day, event_type,
                           count(*)::BIGINT AS x
                    FROM events GROUP BY 1, 2),
          kk AS (SELECT count(DISTINCT event_type)::BIGINT AS k FROM d),
          cb AS (SELECT day FROM d GROUP BY day
                 HAVING count(*) = (SELECT k FROM kk)),
          rk AS (SELECT d.day, d.event_type, d.x,
                        rank() OVER (PARTITION BY d.day ORDER BY d.x) AS r,
                        count(*) OVER (PARTITION BY d.day, d.x) AS t
                 FROM d JOIN cb USING (day)),
          pt AS (SELECT event_type, count(*)::BIGINT AS nb,
                        sum(2 * r + t - 1)::HUGEINT AS r2,
                        sum((2 * r + t - 1)::HUGEINT * (2 * r + t - 1)) AS a4
                 FROM rk GROUP BY 1),
          ag AS (SELECT max(nb)::BIGINT AS n_blocks, max(k)::BIGINT AS k,
                        sum(a4) AS a4t,
                        sum((r2::DOUBLE / 2.0 - nb::DOUBLE * (k::DOUBLE + 1.0) / 2.0)
                            * (r2::DOUBLE / 2.0 - nb::DOUBLE * (k::DOUBLE + 1.0) / 2.0)) AS ss
                 FROM pt CROSS JOIN kk)
          SELECT n_blocks, k,
                 floor((CASE WHEN a4t::DOUBLE / 4.0
                                  - n_blocks::DOUBLE * k::DOUBLE * (k::DOUBLE + 1.0)
                                    * (k::DOUBLE + 1.0) / 4.0 > 0.0
                        THEN (k::DOUBLE - 1.0) * ss
                             / (a4t::DOUBLE / 4.0
                                - n_blocks::DOUBLE * k::DOUBLE * (k::DOUBLE + 1.0)
                                  * (k::DOUBLE + 1.0) / 4.0) END)
                       * 1e4 + 0.5) / 1e4 AS chi2_r
          FROM ag"""),

    // -- MODE aggregate: most frequent part brand per return flag (count
    //    per value, then a partially-aggregated max_by — no window)
    QueryDef("q_mode_brand", (s, dir) => {
      val li   = t(s, dir, "lineitem")
      val part = t(s, dir, "part")
      li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_returnflag"), col("p_brand"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("l_returnflag"))
        // min_by over (-count, brand): count DESC with brand-ASC ties, no window
        .agg(min_by(
          struct(col("p_brand"), col("cnt")),
          struct((-col("cnt")).as("k1"), col("p_brand").as("k2"))).as("m"))
        .select(col("l_returnflag"), col("m.p_brand").as("mode_brand"), col("m.cnt").as("n"))
        .orderBy("l_returnflag")
    },
      """WITH c AS (
           SELECT l_returnflag, p_brand, count(*) AS cnt
           FROM lineitem JOIN part ON l_partkey = p_partkey
           GROUP BY 1, 2)
         SELECT l_returnflag, p_brand AS mode_brand, cnt AS n FROM c
         QUALIFY row_number() OVER (PARTITION BY l_returnflag
                                    ORDER BY cnt DESC, p_brand) = 1
         ORDER BY l_returnflag"""),

    // -- group-statistic null imputation: nulls planted deterministically
    //    in l_discount are filled with the per-flag mean of the SURVIVING
    //    values (broadcast group stats, map-side coalesce)
    QueryDef("q_impute", (s, dir) => {
      val withNulls = t(s, dir, "lineitem")
        .withColumn("d",
          when(col("l_orderkey") % 13 === 0, lit(null).cast("double"))
            .otherwise(col("l_discount")))
      val stats = withNulls
        .groupBy(col("l_returnflag"))
        .agg(round(avg(col("d")), 6).as("fill"))
      withNulls
        .join(broadcast(stats), Seq("l_returnflag"))
        .withColumn("d2", coalesce(col("d"), col("fill")))
        .groupBy(col("l_returnflag"))
        .agg(
          count(when(col("d").isNull, 1)).as("n_filled"),
          round(avg(col("d2")), 6).as("mean_after"))
        .orderBy("l_returnflag")
    },
      """WITH w AS (
           SELECT l_returnflag,
                  CASE WHEN l_orderkey % 13 = 0 THEN NULL ELSE l_discount END AS d
           FROM lineitem),
         s AS (SELECT l_returnflag, floor((avg(d)) * 1e6 + 0.5) / 1e6 AS fill
               FROM w GROUP BY 1)
         SELECT w.l_returnflag,
                count(CASE WHEN d IS NULL THEN 1 END) AS n_filled,
                floor((avg(coalesce(d, fill))) * 1e6 + 0.5) / 1e6 AS mean_after
         FROM w JOIN s ON s.l_returnflag = w.l_returnflag
         GROUP BY 1 ORDER BY 1"""),

    // -- data-quality expectation suite: every rule's metric from ONE
    //    aggregation pass over lineitem, verdicts off the metadata row
    QueryDef("q_data_quality", (s, dir) => {
      import operators.Stats.Rule
      operators.Stats.expectations(t(s, dir, "lineitem"), Seq(
        Rule("qty_min", min(col("l_quantity")), 1.0, Double.MaxValue),
        Rule("qty_max", max(col("l_quantity")), 0.0, 50.0),
        Rule("price_null_frac",
          avg(when(col("l_extendedprice").isNull, 1.0).otherwise(0.0)), 0.0, 0.0),
        Rule("discount_in_range",
          avg(when(col("l_discount").between(0.0, 0.1), 1.0).otherwise(0.0)), 1.0, 1.0),
        Rule("orderkey_fanout",
          count(lit(1)).cast("double") / countDistinct(col("l_orderkey")).cast("double"),
          1.0, 7.0)))
        .orderBy("rule")
    },
      """WITH m AS (
           SELECT min(l_quantity)::DOUBLE AS qty_min,
                  max(l_quantity)::DOUBLE AS qty_max,
                  avg(CASE WHEN l_extendedprice IS NULL THEN 1.0 ELSE 0.0 END) AS pnf,
                  avg(CASE WHEN l_discount BETWEEN 0.0 AND 0.1 THEN 1.0 ELSE 0.0 END) AS dir_,
                  count(*)::DOUBLE / count(DISTINCT l_orderkey)::DOUBLE AS fanout
           FROM lineitem)
         SELECT rule, floor((value) * 1e6 + 0.5) / 1e6 AS value, pass FROM (
           SELECT 'qty_min' AS rule, qty_min AS value, qty_min >= 1.0 AS pass FROM m
           UNION ALL SELECT 'qty_max', qty_max, qty_max BETWEEN 0.0 AND 50.0 FROM m
           UNION ALL SELECT 'price_null_frac', pnf, pnf = 0.0 FROM m
           UNION ALL SELECT 'discount_in_range', dir_, dir_ = 1.0 FROM m
           UNION ALL SELECT 'orderkey_fanout', fanout, fanout BETWEEN 1.0 AND 7.0 FROM m) u
         ORDER BY rule"""),

    // -- winsorized mean per return flag: robust aggregation — exact
    //    percentile cuts (6-dp, identical cross-engine) broadcast back,
    //    clip + mean in one aggregate
    QueryDef("q_winsorized", (s, dir) => {
      operators.Stats
        .winsorizedMean(t(s, dir, "lineitem"), "l_returnflag", "l_extendedprice")
        .orderBy("l_returnflag")
    },
      """WITH b AS (
           SELECT l_returnflag,
                  floor((quantile_cont(l_extendedprice, 0.05)) * 1e6 + 0.5) / 1e6 AS b_lo,
                  floor((quantile_cont(l_extendedprice, 0.95)) * 1e6 + 0.5) / 1e6 AS b_hi
           FROM lineitem GROUP BY 1)
         SELECT l.l_returnflag, count(*) AS n,
                floor((avg(l_extendedprice)) * 1e4 + 0.5) / 1e4 AS raw_mean,
                floor((avg(least(greatest(l_extendedprice, b_lo), b_hi))) * 1e4 + 0.5) / 1e4 AS wins_mean
         FROM lineitem l JOIN b ON b.l_returnflag = l.l_returnflag
         GROUP BY 1 ORDER BY 1"""),

    // -- small-file compaction planning over file METADATA: under-target
    //    files packed to ~500-byte bins in path order, big files kept as
    //    singleton negative bins — the OPTIMIZE planning half
    QueryDef("q_compaction_plan", (s, dir) => {
      val files = t(s, dir, "documents").select(
        col("lang").as("part"),
        format_string("f%05d", col("doc_id")).as("path"),
        col("n_chars").as("bytes"))
      operators.Layout
        .compactionPlan(files, targetBytes = 500)
        .orderBy("part", "bin")
    },
      """WITH f AS (
           SELECT lang AS part, printf('f%05d', doc_id) AS path, n_chars AS bytes
           FROM documents),
         small AS (
           SELECT part, path, bytes,
                  (sum(bytes) OVER (PARTITION BY part ORDER BY path
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - bytes) // 500 AS bin,
                  'compact' AS action
           FROM f WHERE bytes < 500),
         big AS (
           SELECT part, path, bytes,
                  -row_number() OVER (PARTITION BY part ORDER BY path) AS bin,
                  'keep' AS action
           FROM f WHERE bytes >= 500),
         u AS (SELECT * FROM small UNION ALL SELECT * FROM big)
         SELECT part, bin::BIGINT AS bin, action, count(*) AS n_files,
                sum(bytes)::BIGINT AS total_bytes,
                array_to_string(list_sort(list(path)), ' ') AS files_str
         FROM u GROUP BY 1, 2, 3 ORDER BY part, bin"""),

    // -- clustering DEPTH: per-partition overlap profile of the file
    //    key-ranges (for each file, how many sibling files' [min,max]
    //    zones intersect its own) — the metric that says whether zone-map
    //    pruning will actually prune (depth ≈ 0 ⇒ point lookups touch one
    //    file) and whether OPTIMIZE/Z-order is due (the Delta/Iceberg
    //    clustering-depth signal). File METADATA only, never data; the
    //    pairwise overlap reuses the bucketed interval join (equi-join on
    //    cells, no nested loop) rather than an O(files²) theta-join.
    QueryDef("q_clustering_depth", (s, dir) => {
      val files = t(s, dir, "documents").select(
        col("lang").as("part"),
        format_string("f%05d", col("doc_id")).as("path"),
        (col("doc_id") * 37 % 500).cast("double").as("mn"),
        ((col("doc_id") * 37 % 500) + 1 + (col("n_chars") % 60)).cast("double").as("mx"))
      val a = files.select(col("part"), col("path").as("a_path"),
        col("mn").as("a_mn"), col("mx").as("a_mx"))
      val b = files.select(col("part"), col("path").as("b_path"),
        col("mn").as("b_mn"), col("mx").as("b_mx"))
      val depth = operators.RangeJoin
        .overlapJoin(a, b, Seq("part"), "a_mn", "a_mx", "b_mn", "b_mx", bucketWidth = 64.0)
        .where(col("a_path") =!= col("b_path"))
        .groupBy(col("part"), col("a_path").as("path"))
        .agg(count(lit(1)).as("d"))
      files
        .join(depth, Seq("part", "path"), "left_outer")
        .na.fill(0L, Seq("d"))
        .groupBy(col("part"))
        .agg(count(lit(1)).as("n_files"),
          graft.functions.Portable.pround(avg(col("d")), 4).as("avg_depth_r"),
          max(col("d")).as("max_depth"))
        .orderBy("part")
    },
      // file-metadata self overlap (strict <, same synthesized zones),
      // depth 0 files kept via the left join
      """WITH f AS (SELECT lang AS part, printf('f%05d', doc_id) AS path,
                           (doc_id * 37 % 500)::DOUBLE AS mn,
                           ((doc_id * 37 % 500) + 1 + (n_chars % 60))::DOUBLE AS mx
                    FROM documents),
         p AS (SELECT a.part, a.path, count(*) AS d
               FROM f a JOIN f b ON a.part = b.part AND a.path <> b.path
                                 AND a.mn < b.mx AND b.mn < a.mx
               GROUP BY 1, 2),
         j AS (SELECT f.part, f.path, coalesce(p.d, 0) AS d
               FROM f LEFT JOIN p ON p.part = f.part AND p.path = f.path)
         SELECT part, count(*)::BIGINT AS n_files,
                floor((avg(d)) * 1e4 + 0.5) / 1e4 AS avg_depth_r,
                max(d)::BIGINT AS max_depth
         FROM j GROUP BY part ORDER BY part"""),

    // -- compaction EXECUTION: the rewrite half of OPTIMIZE — documents
    //    scattered as 40 small parquet files, small-file bins planned
    //    (compactionPlan) and rewritten one-file-per-bin; the returned
    //    post-compaction table must be row-identical to the original, so
    //    the oracle is the DIRECT documents read (same lossless-rewrite
    //    discipline as the format roundtrips)
    QueryDef("q_compaction_exec", (s, dir) => {
      val small = scratch("compact-src", dir)
      val out = scratch("compact-out", dir)
      t(s, dir, "documents").repartition(40, col("doc_id"))
        .write.mode("overwrite").parquet(small)
      operators.Layout
        .compactExecute(s, small, out, targetBytes = 64 * 1024)
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(graft.functions.HexSlice.u(md5(col("text")), 1, 8)).as("sum_text_md5"))
        .orderBy("lang")
    },
      // the rewrite is LOSSLESS, so the oracle is the direct documents read
      """SELECT lang, count(*) AS n_docs,
                sum(n_chars)::BIGINT AS sum_chars,
                sum(('0x' || substr(md5(text), 1, 8))::BIGINT)::BIGINT AS sum_text_md5
         FROM documents GROUP BY lang ORDER BY lang"""),

    // -- two-sample Kolmogorov-Smirnov drift test: D = max CDF gap between
    //    even- and odd-orderkey price distributions per priority (null
    //    drift — D should be small); tie-correct, value-range-chunked cumsum
    QueryDef("q_ks_drift", (s, dir) => {
      operators.Stats
        .ksTest(
          t(s, dir, "orders")
            .withColumn("smp", (lit(1) + col("o_orderkey") % 2).cast("int")),
          "o_orderpriority", "o_totalprice", "smp", chunkWidth = 20000.0)
        .orderBy("o_orderpriority")
    },
      """WITH s AS (SELECT o_orderpriority AS g, o_totalprice::DOUBLE AS v,
                           1 + o_orderkey % 2 AS smp
                    FROM orders),
         pv AS (SELECT g, v,
                       sum(CASE WHEN smp = 1 THEN 1 ELSE 0 END) AS c1,
                       sum(CASE WHEN smp = 2 THEN 1 ELSE 0 END) AS c2
                FROM s GROUP BY 1, 2),
         c AS (SELECT *,
                      sum(c1) OVER (PARTITION BY g ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1,
                      sum(c2) OVER (PARTITION BY g ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum2
               FROM pv),
         t AS (SELECT g, sum(c1)::BIGINT AS n1, sum(c2)::BIGINT AS n2 FROM pv GROUP BY 1)
         SELECT g AS o_orderpriority, n1, n2,
                floor((max(abs(cum1 / n1::DOUBLE - cum2 / n2::DOUBLE))) * 1e6 + 0.5) / 1e6 AS d_r
         FROM c JOIN t USING (g)
         GROUP BY g, n1, n2 ORDER BY 1"""),

    // -- per-group closed-form OLS: price-vs-quantity trend per return
    //    flag from one pass of sufficient statistics (n, Σx, Σy, Σxy,
    //    Σx², Σy²) — no window, no ML library, group-sized output
    QueryDef("q_group_ols", (s, dir) => {
      operators.Stats
        .groupedOls(t(s, dir, "lineitem"), "l_returnflag", "l_quantity", "l_extendedprice")
        .orderBy("l_returnflag")
    },
      """WITH a AS (
           SELECT l_returnflag, count(*)::DOUBLE AS n,
                  sum(l_quantity::DOUBLE) AS sx,
                  sum(l_extendedprice::DOUBLE) AS sy,
                  sum(l_quantity::DOUBLE * l_extendedprice::DOUBLE) AS sxy,
                  sum(l_quantity::DOUBLE * l_quantity::DOUBLE) AS sxx,
                  sum(l_extendedprice::DOUBLE * l_extendedprice::DOUBLE) AS syy
           FROM lineitem GROUP BY 1),
         d AS (
           SELECT l_returnflag, n,
                  n * sxx - sx * sx AS dxx,
                  n * syy - sy * sy AS dyy,
                  n * sxy - sx * sy AS dxy,
                  sx, sy
           FROM a)
         SELECT l_returnflag, n::BIGINT AS n,
                CASE WHEN dxx <> 0 THEN floor((dxy / dxx) * 1e4 + 0.5) / 1e4 END AS slope_r,
                CASE WHEN dxx <> 0 THEN floor(((sy - (dxy / dxx) * sx) / n) * 1e4 + 0.5) / 1e4 END AS icept_r,
                CASE WHEN dxx <> 0 AND dyy <> 0
                     THEN floor((dxy * dxy / (dxx * dyy)) * 1e4 + 0.5) / 1e4 END AS r2_r
         FROM d ORDER BY l_returnflag"""),

    // -- Zipf-law fit per source: OLS slope of ln(freq) vs ln(rank) over
    //    each source's term-frequency distribution — vocab-sized window,
    //    one-pass sufficient statistics, group-sized output
    QueryDef("q_zipf_fit", (s, dir) => {
      operators.Stats
        .zipfFit(
          Tokenize.tokens(t(s, dir, "documents"), "text", Seq("doc_id", "source")),
          "source")
        .orderBy("source")
    },
      """WITH tok AS (
           SELECT source, w AS word FROM (
             SELECT source,
                    regexp_replace(lower(unnest(regexp_split_to_array(text, '\s+'))), '[^a-z]', '', 'g') AS w
             FROM documents) u
           WHERE w <> ''),
         f AS (SELECT source, word, count(*) AS freq FROM tok GROUP BY 1, 2),
         r AS (SELECT source, freq,
                      row_number() OVER (PARTITION BY source
                                         ORDER BY freq DESC, word) AS rank
               FROM f),
         a AS (
           SELECT source, count(*)::DOUBLE AS n,
                  sum(ln(rank)) AS sx, sum(ln(freq)) AS sy,
                  sum(ln(rank) * ln(freq)) AS sxy,
                  sum(ln(rank) * ln(rank)) AS sxx,
                  sum(ln(freq) * ln(freq)) AS syy
           FROM r GROUP BY 1),
         d AS (
           SELECT source, n,
                  n * sxx - sx * sx AS dxx,
                  n * syy - sy * sy AS dyy,
                  n * sxy - sx * sy AS dxy,
                  sx, sy
           FROM a)
         SELECT source, n::BIGINT AS n,
                CASE WHEN dxx <> 0 THEN floor((dxy / dxx) * 1e4 + 0.5) / 1e4 END AS slope_r,
                CASE WHEN dxx <> 0 THEN floor(((sy - (dxy / dxx) * sx) / n) * 1e4 + 0.5) / 1e4 END AS icept_r,
                CASE WHEN dxx <> 0 AND dyy <> 0
                     THEN floor((dxy * dxy / (dxx * dyy)) * 1e4 + 0.5) / 1e4 END AS r2_r
         FROM d ORDER BY source"""),

    // -- k-anonymity audit: quasi-identifier classes (lang, source,
    //    10-char length bucket) smaller than k=5 — the re-identification
    //    risks left AFTER direct-identifier redaction
    QueryDef("q_k_anon", (s, dir) => {
      operators.Stats
        .kAnonymity(
          t(s, dir, "documents")
            .withColumn("len_bucket", floor(col("n_chars") / 10)),
          Seq("lang", "source", "len_bucket"), k = 5)
        .orderBy("class_size", "lang", "source", "len_bucket")
    },
      """WITH q AS (
           SELECT lang, source, n_chars // 10 AS len_bucket,
                  count(*) AS class_size
           FROM documents GROUP BY 1, 2, 3),
         t AS (SELECT count(*)::DOUBLE AS total FROM documents)
         SELECT lang, source, len_bucket, class_size,
                floor((class_size / total) * 1e6 + 0.5) / 1e6 AS share_r
         FROM q CROSS JOIN t
         WHERE class_size < 5
         ORDER BY class_size, lang, source, len_bucket"""),

    // -- l-diversity audit: the homogeneity-attack check k-anonymity
    //    can't see — (source, 200-char length bucket) classes whose
    //    members span fewer than l=4 distinct languages leak the
    //    sensitive attribute by membership alone
    QueryDef("q_l_diversity", (s, dir) => {
      operators.Stats
        .lDiversity(
          t(s, dir, "documents")
            .withColumn("len_bucket", floor(col("n_chars") / 200)),
          Seq("source", "len_bucket"), sensitiveCol = "lang", l = 4)
        .orderBy("source", "len_bucket")
    },
      """SELECT source, n_chars // 200 AS len_bucket,
                count(*) AS class_size,
                count(DISTINCT lang) AS diversity
         FROM documents GROUP BY 1, 2
         HAVING count(DISTINCT lang) < 4
         ORDER BY source, len_bucket"""),

    // -- t-closeness audit: the distribution-skew leak k-anon and
    //    l-diversity both miss — per (lang, source) class, ordered EMD
    //    between the class's document-length distribution (50-char
    //    buckets) and the global one; exact-integer cumulative gaps, one
    //    double division at the end
    QueryDef("q_t_closeness", (s, dir) => {
      operators.Stats
        .tCloseness(
          t(s, dir, "documents").withColumn("len_bucket", floor(col("n_chars") / 50)),
          Seq("lang", "source"), sensitiveCol = "len_bucket", t = 0.2)
        .orderBy("lang", "source")
    },
      // ordered EMD per class: exact-HUGEINT cumulative gaps (mirror of the
      // decimal(38,0) Spark form), one double division, violates from the
      // ROUNDED emd
      """WITH b AS (SELECT lang, source, (n_chars // 50) AS v
                    FROM documents WHERE n_chars IS NOT NULL),
         g AS (SELECT v, count(*) AS gc FROM b GROUP BY v),
         t0 AS (SELECT count(*) AS m, sum(gc) AS n FROM g),
         cls AS (SELECT lang, source, count(*) AS class_size FROM b GROUP BY 1, 2),
         cc AS (SELECT lang, source, v, count(*) AS c FROM b GROUP BY 1, 2, 3),
         grid AS (SELECT cls.lang, cls.source, cls.class_size, g.v, g.gc,
                         coalesce(cc.c, 0) AS c
                  FROM cls CROSS JOIN g
                  LEFT JOIN cc ON cc.lang = cls.lang AND cc.source = cls.source
                              AND cc.v = g.v),
         cum AS (SELECT lang, source, class_size,
                        sum(c) OVER (PARTITION BY lang, source ORDER BY v) AS cc2,
                        sum(gc) OVER (PARTITION BY lang, source ORDER BY v) AS cg
                 FROM grid),
         s AS (SELECT lang, source, class_size,
                      sum(abs(n::HUGEINT * cc2::HUGEINT - class_size::HUGEINT * cg::HUGEINT)) AS sm,
                      max(n) AS gn, max(m) AS gm
               FROM cum CROSS JOIN t0 GROUP BY 1, 2, 3),
         e AS (SELECT lang, source, class_size,
                      floor((CASE WHEN gm > 1
                                  THEN sm::DOUBLE / (class_size::DOUBLE * gn) / (gm - 1)
                                  ELSE 0.0 END) * 1e6 + 0.5) / 1e6 AS emd_r
               FROM s)
         SELECT lang, source, class_size::BIGINT AS class_size, emd_r,
                (emd_r > 0.2)::INT AS violates
         FROM e ORDER BY lang, source"""),

    // -- pairwise Pearson correlation matrix: all 6 lineitem pairs from
    //    ONE aggregation pass (Corr's sufficient statistics partially
    //    aggregate map-side), upper triangle unpivoted
    QueryDef("q_corr_matrix", (s, dir) => {
      operators.Stats
        .corrMatrix(t(s, dir, "lineitem"), CorrCols)
        .orderBy("col_a", "col_b")
    },
      // generated from the SAME pairs list as the Spark side, so the two
      // can never drift on pair order or rounding
      CorrMatrixSql),

    // -- join-cardinality estimate from key histograms: Σ cntA·cntB per
    //    key — the oracle computes the REAL join's count(*), so the hash
    //    match proves the estimator exact without materializing the join
    QueryDef("q_join_cardinality", (s, dir) => {
      operators.Stats
        .joinCardinality(
          t(s, dir, "orders"), "o_custkey",
          t(s, dir, "customer"), "c_custkey")
    },
      // est_rows comes from the REAL join's count(*): the hash match proves
      // the histogram identity sum(cntA*cntB) == |A JOIN B| cross-engine
      """WITH a AS (SELECT o_custkey AS k, count(*) AS ca FROM orders GROUP BY 1),
         b AS (SELECT c_custkey AS k, count(*) AS cb FROM customer GROUP BY 1),
         p AS (SELECT a.k, ca * cb AS prod FROM a JOIN b USING (k))
         SELECT (SELECT count(*) FROM orders JOIN customer ON o_custkey = c_custkey)::BIGINT AS est_rows,
                max(prod)::BIGINT AS max_key_rows,
                floor((max(prod)::DOUBLE / sum(prod)) * 1e6 + 0.5) / 1e6 AS max_key_share_r
         FROM p"""),

    // -- mergeable incremental stats: per-flag (n, Σx, Σx²) partials from
    //    the even- and odd-orderkey halves MERGED by addition == direct
    //    whole-table moments (the oracle computes the direct form — the
    //    hash match IS the merge-correctness proof)
    QueryDef("q_stats_merge", (s, dir) => {
      val li = t(s, dir, "lineitem")
      operators.Stats
        .mergedMomentsReport(
          operators.Stats.partialMoments(
            li.where(col("l_orderkey") % 2 === 0), "l_returnflag", "l_quantity"),
          operators.Stats.partialMoments(
            li.where(col("l_orderkey") % 2 === 1), "l_returnflag", "l_quantity"))
        .orderBy("l_returnflag")
    },
      // the DIRECT single-pass form — the merged partials must hash-match it
      """WITH a AS (
           SELECT l_returnflag, count(*) AS n,
                  sum(l_quantity::DOUBLE) AS s,
                  sum(l_quantity::DOUBLE * l_quantity::DOUBLE) AS ss
           FROM lineitem GROUP BY 1)
         SELECT l_returnflag, n,
                floor((s / n) * 1e4 + 0.5) / 1e4 AS mean_r,
                floor(((ss - s * s / n) / n) * 1e4 + 0.5) / 1e4 AS var_r,
                floor(sqrt((ss - s * s / n) / n) * 1e4 + 0.5) / 1e4 AS std_r
         FROM a ORDER BY l_returnflag"""),

    // -- per-source dataset card: docs, token mass, mean length, language
    //    entropy, exact-dup rate — three source-sized partial aggregates
    //    joined, the release summary table
    QueryDef("q_dataset_card", (s, dir) => {
      operators.Stats
        .datasetCard(
          t(s, dir, "documents"),
          Tokenize.tokens(t(s, dir, "documents"), "text", Seq("doc_id", "source")))
        .orderBy("source")
    },
      """WITH tok AS (
           SELECT source, w AS word FROM (
             SELECT source,
                    regexp_replace(lower(unnest(regexp_split_to_array(text, '\s+'))), '[^a-z]', '', 'g') AS w
             FROM documents) u
           WHERE w <> ''),
         base AS (
           SELECT source, count(*) AS n_docs,
                  floor(avg(n_chars) * 1e2 + 0.5) / 1e2 AS mean_chars_r,
                  count(DISTINCT md5(text)) AS nd
           FROM documents GROUP BY 1),
         tk AS (SELECT source, count(*) AS n_tokens FROM tok GROUP BY 1),
         lg AS (SELECT source, lang, count(*) AS nl FROM documents GROUP BY 1, 2),
         ent AS (
           SELECT source, count(*) AS n_langs,
                  floor((ln(sum(nl)) - sum(nl::DOUBLE * ln(nl)) / sum(nl)) * 1e4 + 0.5) / 1e4 AS lang_entropy_r
           FROM lg GROUP BY 1)
         SELECT base.source, n_docs, n_tokens, mean_chars_r, n_langs, lang_entropy_r,
                floor((1.0 - nd::DOUBLE / n_docs) * 1e4 + 0.5) / 1e4 AS dup_rate_r
         FROM base JOIN tk USING (source) JOIN ent ON ent.source = base.source
         ORDER BY base.source"""),

    // -- token-mass concentration per source: Gini over the term-frequency
    //    distribution (rank form — integer sums, one rounded division),
    //    the concentration companion to q_zipf_fit
    QueryDef("q_token_gini", (s, dir) => {
      operators.Stats
        .tokenGini(
          Tokenize.tokens(t(s, dir, "documents"), "text", Seq("doc_id", "source")),
          "source")
        .orderBy("source")
    },
      """WITH tok AS (
           SELECT source, w AS word FROM (
             SELECT source,
                    regexp_replace(lower(unnest(regexp_split_to_array(text, '\s+'))), '[^a-z]', '', 'g') AS w
             FROM documents) u
           WHERE w <> ''),
         f AS (SELECT source, word, count(*) AS freq FROM tok GROUP BY 1, 2),
         r AS (SELECT source, freq,
                      row_number() OVER (PARTITION BY source
                                         ORDER BY freq ASC, word) AS rk
               FROM f),
         a AS (SELECT source, count(*) AS n_vocab, sum(freq)::BIGINT AS total_tokens,
                      sum(rk * freq)::BIGINT AS srx
               FROM r GROUP BY 1)
         SELECT source, n_vocab, total_tokens,
                floor((2.0 * srx / (n_vocab * total_tokens)
                       - (n_vocab + 1)::DOUBLE / n_vocab) * 1e4 + 0.5) / 1e4 AS gini_r
         FROM a ORDER BY source"""),

    // -- robust outlier detection: modified z-score over median/MAD
    //    (50%-breakdown estimators — outliers can't drag the rule that
    //    hunts them); two broadcast percentile passes + one map-side
    //    verdict aggregate, approx path in ApproxStatsSpec's family
    QueryDef("q_robust_outliers", (s, dir) => {
      operators.Stats
        .robustOutliers(t(s, dir, "orders"), "o_orderpriority", "o_totalprice")
        .orderBy("o_orderpriority")
    },
      """WITH med AS (
           SELECT o_orderpriority,
                  floor((quantile_cont(o_totalprice, 0.5)) * 1e6 + 0.5) / 1e6 AS med
           FROM orders GROUP BY 1),
         dev AS (
           SELECT o.o_orderpriority, o_totalprice, med,
                  abs(o_totalprice - med) AS d
           FROM orders o JOIN med USING (o_orderpriority)),
         mad AS (
           SELECT o_orderpriority,
                  floor((quantile_cont(d, 0.5)) * 1e6 + 0.5) / 1e6 AS mad
           FROM dev GROUP BY 1),
         z AS (
           SELECT dev.o_orderpriority,
                  CASE WHEN mad > 0
                       THEN 0.6745 * (o_totalprice - med) / mad ELSE 0.0 END AS z
           FROM dev JOIN mad USING (o_orderpriority))
         SELECT o_orderpriority, count(*) AS n,
                sum(CASE WHEN abs(z) > 3.5 THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
                floor((max(abs(z))) * 1e4 + 0.5) / 1e4 AS max_abs_z_r
         FROM z GROUP BY 1 ORDER BY 1"""),

    // -- weekly retention cohorts: first-activity week per user, then the
    //    cohort x offset matrix with retained fractions
    QueryDef("q_retention", (s, dir) => {
      operators.Journeys
        .retentionCohorts(graft.sources.EventsSource.events(s, dir))
        .orderBy("cohort", "week_offset")
    },
      """WITH weekly AS (
           -- ::TIMESTAMP: DuckDB's date_trunc('week') yields DATE, Spark's a timestamp
           SELECT DISTINCT user_id AS k, date_trunc('week', ts)::TIMESTAMP AS wk FROM events),
         cohort AS (SELECT k, min(wk) AS cohort FROM weekly GROUP BY 1),
         cells AS (
           SELECT c.cohort,
                  (date_diff('day', c.cohort, w.wk) // 7)::INTEGER AS week_offset,
                  count(DISTINCT w.k) AS n_active
           FROM weekly w JOIN cohort c ON c.k = w.k
           GROUP BY 1, 2),
         base AS (SELECT cohort, n_active AS n0 FROM cells WHERE week_offset = 0)
         SELECT cells.cohort, week_offset, n_active,
                floor((n_active::DOUBLE / n0::DOUBLE) * 1e4 + 0.5) / 1e4 AS frac
         FROM cells JOIN base ON base.cohort = cells.cohort
         ORDER BY cells.cohort, week_offset"""),

    // -- Kaplan–Meier user-lifetime survival with right-censoring: users
    //    active within 7 days of the corpus end are censored (leave the
    //    at-risk pool without a churn event) — the churn curve a naive
    //    mean lifetime biases; cumulative product as exp Σ ln over the
    //    day-domain relation
    QueryDef("q_survival", (s, dir) => {
      operators.Journeys
        .survivalCurve(graft.sources.EventsSource.events(s, dir), censorDays = 7)
        .orderBy("t_days")
    },
      // the censoring rule, the at-risk reverse-cumulative, and the exp Σ ln
      // product all mirrored; zero factors handled by flag, not ln(0)
      """WITH pu AS (
           SELECT user_id AS k, min(ts::DATE) AS first_d, max(ts::DATE) AS last_d
           FROM events GROUP BY 1),
         hz AS (SELECT max(last_d) AS end_d FROM pu),
         lt AS (
           SELECT date_diff('day', first_d, last_d) AS t_days,
                  date_diff('day', last_d, end_d) >= 7 AS churned
           FROM pu CROSS JOIN hz),
         byt AS (
           SELECT t_days, count(*) AS n_ending,
                  sum(CASE WHEN churned THEN 1 ELSE 0 END) AS d_churn
           FROM lt GROUP BY 1),
         r AS (
           SELECT t_days, n_ending, d_churn,
                  sum(n_ending) OVER (ORDER BY t_days
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n_at_risk
           FROM byt),
         f AS (
           SELECT t_days, n_at_risk, d_churn,
                  1.0 - d_churn::DOUBLE / n_at_risk::DOUBLE AS fac
           FROM r),
         c AS (
           SELECT t_days, n_at_risk, d_churn,
                  max(CASE WHEN fac <= 0.0 THEN 1 ELSE 0 END) OVER w AS hit0,
                  sum(CASE WHEN fac > 0.0 THEN ln(fac) ELSE 0.0 END) OVER w AS lns
           FROM f
           WINDOW w AS (ORDER BY t_days ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT t_days, n_at_risk::BIGINT AS n_at_risk, d_churn::BIGINT AS d_churn,
                CASE WHEN hit0 = 1 THEN 0.0
                     ELSE floor(exp(lns) * 1e6 + 0.5) / 1e6 END AS surv_r
         FROM c ORDER BY t_days"""),

    // -- sub-document near-dup pairs via shared CDC chunks: catches "doc
    //    B = doc A with a paragraph spliced in", which whole-doc hashing
    //    and fixed windows miss; ubiquitous chunks dropped before the join
    QueryDef("q_chunk_dedup", (s, dir) => {
      operators.Chunking
        .chunkDupPairs(t(s, dir, "documents"), modulus = 16)
        .orderBy("doc1", "doc2")
    },
      """WITH t0 AS (
           SELECT doc_id,
                  list_filter(
                    list_transform(regexp_split_to_array(text, '\s+'),
                                   x -> regexp_replace(lower(x), '[^a-z]', '', 'g')),
                    w -> w <> '') AS toks
           FROM documents),
         b AS (
           SELECT doc_id, toks,
                  list_concat(list_concat(
                    [0],
                    list_filter(range(1, len(toks)),
                                i -> ('0x' || substr(md5(toks[i]), 1, 8))::BIGINT % 16 = 0)),
                    [len(toks)]) AS bounds
           FROM t0),
         ch AS (
           SELECT doc_id, list_slice(toks, bounds[j] + 1, bounds[j + 1]) AS chunk
           FROM (SELECT doc_id, toks, bounds, unnest(range(1, len(bounds))) AS j FROM b) u),
         cs AS (
           SELECT DISTINCT doc_id, md5(array_to_string(chunk, ' ')) AS chunk_hash
           FROM ch WHERE len(chunk) > 0),
         sz AS (SELECT doc_id, count(*) AS n_chunks FROM cs GROUP BY 1),
         rare AS (SELECT chunk_hash FROM cs GROUP BY chunk_hash HAVING count(*) <= 4096),
         pr AS (SELECT cs.doc_id, cs.chunk_hash FROM cs JOIN rare USING (chunk_hash)),
         sh2 AS (
           SELECT a.doc_id AS doc1, b2.doc_id AS doc2, count(*) AS n_shared
           FROM pr a JOIN pr b2 ON a.chunk_hash = b2.chunk_hash AND a.doc_id < b2.doc_id
           GROUP BY 1, 2 HAVING count(*) >= 2)
         SELECT doc1, doc2, n_shared,
                floor((n_shared::DOUBLE / least(s1.n_chunks, s2.n_chunks)) * 1e4 + 0.5) / 1e4 AS frac
         FROM sh2 JOIN sz s1 ON s1.doc_id = doc1 JOIN sz s2 ON s2.doc_id = doc2
         WHERE n_shared::DOUBLE / least(s1.n_chunks, s2.n_chunks) >= 0.5
         ORDER BY doc1, doc2"""),

    // -- substring-level exact dedup: duplicated CDC spans REMOVED from
    //    every doc (keep-first policy), cleaned text verified via md5 of
    //    the surviving token stream reconstructed on both engines
    QueryDef("q_dedup_spans", (s, dir) => {
      operators.Chunking
        .dedupSpans(t(s, dir, "documents"), modulus = 16)
        .orderBy("doc_id")
    },
      """WITH t0 AS (
           SELECT doc_id,
                  list_filter(
                    list_transform(regexp_split_to_array(text, '\s+'),
                                   x -> regexp_replace(lower(x), '[^a-z]', '', 'g')),
                    w -> w <> '') AS toks
           FROM documents),
         b AS (
           SELECT doc_id, toks,
                  list_concat(list_concat(
                    [0],
                    list_filter(range(1, len(toks)),
                                i -> ('0x' || substr(md5(toks[i]), 1, 8))::BIGINT % 16 = 0)),
                    [len(toks)]) AS bounds
           FROM t0),
         ch AS (
           SELECT doc_id, j - 1 AS chunk_id,
                  list_slice(toks, bounds[j] + 1, bounds[j + 1]) AS chunk
           FROM (SELECT doc_id, toks, bounds, unnest(range(1, len(bounds))) AS j FROM b) u),
         occ AS (
           SELECT doc_id, chunk_id, chunk, len(chunk) AS n_tok,
                  md5(array_to_string(chunk, ' ')) AS chunk_hash
           FROM ch WHERE len(chunk) > 0),
         occ2 AS (
           SELECT *, (row_number() OVER (PARTITION BY chunk_hash
                        ORDER BY doc_id, chunk_id) = 1) AS kept
           FROM occ),
         agg AS (
           SELECT doc_id,
                  count(*)::BIGINT AS n_chunks,
                  sum(CASE WHEN kept THEN 0 ELSE 1 END)::BIGINT AS n_removed,
                  sum(n_tok)::BIGINT AS n_tok,
                  sum(CASE WHEN kept THEN n_tok ELSE 0 END)::BIGINT AS n_tok_kept,
                  md5(coalesce(string_agg(CASE WHEN kept THEN array_to_string(chunk, ' ') END,
                                          ' ' ORDER BY chunk_id), '')) AS clean_hash
           FROM occ2 GROUP BY doc_id)
         SELECT d.doc_id,
                coalesce(n_chunks, 0) AS n_chunks,
                coalesce(n_removed, 0) AS n_removed,
                coalesce(n_tok, 0) AS n_tok,
                coalesce(n_tok_kept, 0) AS n_tok_kept,
                coalesce(clean_hash, md5('')) AS clean_hash
         FROM documents d LEFT JOIN agg USING (doc_id) ORDER BY d.doc_id"""),

    // -- incremental materialized-view maintenance with retractions: the
    //    per-priority (n, total) view folds an insert+retract delta in
    //    O(|delta| + touched keys) — never a source rescan; the oracle is
    //    the full REBUILD over the post-delta source
    QueryDef("q_mv_update", (s, dir) => {
      val orders = t(s, dir, "orders")
      val view = operators.ChangeData.sumCountView(
        orders.where(col("o_orderkey") % 10 =!= 0), Seq("o_orderpriority"), "o_totalprice")
      val ins = orders.where(col("o_orderkey") % 10 === 0)
        .select(col("o_orderpriority"), col("o_totalprice"), lit(1L).as("w"))
      val ret = orders.where(col("o_orderkey") % 7 === 0 && col("o_orderkey") % 10 =!= 0)
        .select(col("o_orderpriority"), col("o_totalprice"), lit(-1L).as("w"))
      operators.ChangeData
        .updateSumCount(view, ins.unionByName(ret), Seq("o_orderpriority"), "o_totalprice")
        .select(col("o_orderpriority"), col("n"), round(col("total"), 2).as("total_r"))
        .orderBy("o_orderpriority")
    },
      // the rebuild over the post-delta source IS the oracle: passing means
      // incremental == recompute
      """SELECT o_orderpriority, count(*) AS n,
                floor((sum(o_totalprice)) * 1e2 + 0.5) / 1e2 AS total_r
         FROM orders
         WHERE NOT (o_orderkey % 7 = 0 AND o_orderkey % 10 <> 0)
         GROUP BY 1 ORDER BY 1"""),

    // -- chi-square independence test on the lang x source contingency
    //    table (zero cells included via the broadcast marginal cross):
    //    is the language distribution independent of the source?
    QueryDef("q_chi2_lang_source", (s, dir) => {
      val cells = t(s, dir, "documents")
        .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("o"))
      val rowT = cells.groupBy(col("lang")).agg(sum(col("o")).as("rt"))
      val colT = cells.groupBy(col("source")).agg(sum(col("o")).as("ct"))
      val n = cells.agg(sum(col("o")).cast("double").as("nn"))
      broadcast(rowT).crossJoin(broadcast(colT)).crossJoin(broadcast(n))
        .join(cells, Seq("lang", "source"), "left_outer")
        .withColumn("e", col("rt") * col("ct") / col("nn"))
        .withColumn("o2", coalesce(col("o"), lit(0L)).cast("double"))
        .agg(
          round(sum((col("o2") - col("e")) * (col("o2") - col("e")) / col("e")), 6).as("chi2"),
          ((countDistinct(col("lang")) - 1) * (countDistinct(col("source")) - 1)).as("dof"))
    },
      """WITH cells AS (
           SELECT lang, source, count(*) AS o FROM documents GROUP BY 1, 2),
         rt AS (SELECT lang, sum(o) AS rt FROM cells GROUP BY 1),
         ct AS (SELECT source, sum(o) AS ct FROM cells GROUP BY 1),
         n AS (SELECT sum(o)::DOUBLE AS nn FROM cells),
         full_cells AS (
           SELECT rt.lang, ct.source, rt.rt, ct.ct, n.nn, coalesce(cells.o, 0)::DOUBLE AS o2
           FROM rt CROSS JOIN ct CROSS JOIN n
           LEFT JOIN cells ON cells.lang = rt.lang AND cells.source = ct.source)
         SELECT floor((sum((o2 - rt * ct / nn) * (o2 - rt * ct / nn) / (rt * ct / nn))) * 1e6 + 0.5) / 1e6 AS chi2,
                (count(DISTINCT lang) - 1) * (count(DISTINCT source) - 1) AS dof
         FROM full_cells"""),

    // -- pairwise association rules over order baskets (brands bought
    //    together): support / confidence / lift, within-basket pair join
    //    bounded by basket size, metadata-sized counts broadcast back
    QueryDef("q_assoc_rules", (s, dir) => {
      val ob = t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("basket"), col("p_brand").as("item"))
      operators.Journeys
        .associationRules(ob, "basket", "item", minPairs = 50)
        .orderBy("antecedent", "consequent")
    },
      """WITH b AS (
           SELECT DISTINCT l_orderkey AS bk, p_brand AS item
           FROM lineitem JOIN part ON l_partkey = p_partkey),
         nb AS (SELECT count(DISTINCT bk)::DOUBLE AS n_baskets FROM b),
         s AS (SELECT item, count(*) AS n_item FROM b GROUP BY 1),
         p AS (
           SELECT a.item AS ia, c.item AS ic, count(*) AS n_pair
           FROM b a JOIN b c ON a.bk = c.bk AND a.item < c.item
           GROUP BY 1, 2 HAVING count(*) >= 50),
         d AS (SELECT ia AS antecedent, ic AS consequent, n_pair FROM p
               UNION ALL
               SELECT ic AS antecedent, ia AS consequent, n_pair FROM p)
         SELECT antecedent, consequent, n_pair,
                floor((n_pair / nb.n_baskets) * 1e4 + 0.5) / 1e4 AS support,
                floor((n_pair / sa.n_item) * 1e4 + 0.5) / 1e4 AS confidence,
                floor((n_pair * nb.n_baskets / (sa.n_item * sc.n_item)) * 1e4 + 0.5) / 1e4 AS lift
         FROM d
         JOIN s sa ON sa.item = d.antecedent
         JOIN s sc ON sc.item = d.consequent
         CROSS JOIN nb
         ORDER BY antecedent, consequent"""),

    // -- ordered-funnel conversion per session: view → click-after-view
    //    → purchase-after-click, with REAL ordering semantics
    QueryDef("q_funnel", (s, dir) => {
      operators.Journeys
        .funnel(graft.sources.EventsSource.events(s, dir), Seq("view", "click", "purchase"))
        .orderBy("stage_idx")
    },
      """WITH x AS (
           SELECT user_id AS k, event_id, event_type AS et, epoch_us(ts) AS ts,
                  lag(epoch_us(ts)) OVER w AS prev_us
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
         r AS (
           SELECT k, et, ts,
                  sum(CASE WHEN prev_us IS NULL OR ts - prev_us > 1800000000 THEN 1 ELSE 0 END)
                    OVER (PARTITION BY k ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
           FROM x),
         f1 AS (SELECT k, sess_id, min(ts) AS stage_ts FROM r WHERE et = 'view' GROUP BY 1, 2),
         f2 AS (SELECT r.k, r.sess_id, min(r.ts) AS stage_ts
                FROM r JOIN f1 ON r.k = f1.k AND r.sess_id = f1.sess_id
                WHERE r.et = 'click' AND r.ts > f1.stage_ts GROUP BY 1, 2),
         f3 AS (SELECT r.k, r.sess_id, min(r.ts) AS stage_ts
                FROM r JOIN f2 ON r.k = f2.k AND r.sess_id = f2.sess_id
                WHERE r.et = 'purchase' AND r.ts > f2.stage_ts GROUP BY 1, 2)
         SELECT 'view' AS stage, 1 AS stage_idx, (SELECT count(*) FROM f1) AS n_sessions
         UNION ALL SELECT 'click', 2, (SELECT count(*) FROM f2)
         UNION ALL SELECT 'purchase', 3, (SELECT count(*) FROM f3)
         ORDER BY stage_idx"""),

    // -- personalized PageRank: teleport to a seed set (custkeys < 50) —
    //    proximity-to-seeds ranking; same one-shuffle-per-round shape as
    //    q_pagerank with a node-sized teleport vector materialized once
    QueryDef("q_ppr_seeds", (s, dir) => {
      // r21: numeric node keys (q_pagerank note); the seed set relabels
      // with the same +ck+1 tag, teleport mass and per-node sums are
      // relabeling-invariant, string ids reconstructed after the fixpoint.
      val edges = operators.Graph.customerSupplierEdgesNum(t(s, dir, "orders"), t(s, dir, "lineitem"))
      val seeds = t(s, dir, "orders").where(col("o_custkey") < 50)
        .select((col("o_custkey") + 1).cast("long").as("node")).distinct()
      operators.Graph
        .personalizedPagerankRounded(edges, seeds)
        .select(operators.Graph.csNodeStr(col("node")).as("node"), col("ppr"))
        .orderBy("node")
    },
      pprSql(iters = 5, d = 0.85)),

    // -- deterministic train/val/test split: md5 CASE against cumulative
    //    thresholds — stable under corpus growth, no RNG state
    QueryDef("q_hash_split", (s, dir) => {
      Sampling
        .hashSplit(t(s, dir, "documents"), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n"))
        .orderBy("split", "lang")
    },
      s"""WITH h AS (
            SELECT lang,
                   ('0x' || substr(md5('split:' || doc_id::VARCHAR), 1, 8))::BIGINT AS hv
            FROM documents),
          a AS (
            SELECT lang,
                   CASE WHEN hv < ${Sampling.threshold(0.8)} THEN 'train'
                        WHEN hv < ${Sampling.threshold(0.9)} THEN 'val'
                        ELSE 'test' END AS split
            FROM h)
          SELECT split, lang, count(*) AS n FROM a GROUP BY 1, 2 ORDER BY 1, 2"""),

    // -- deterministic epoch-shuffle sharding: the between-epoch global
    //    reshuffle of a multi-epoch pretraining loader, order-by-hash so
    //    no permutation is ever materialized. Output pins the SCHEDULE
    //    itself: per (epoch, shard), the size and an md5 checksum over
    //    the shard's doc sequence in loader order — a changed order,
    //    crossed shard, or lost doc flips the checksum
    QueryDef("q_epoch_shuffle", (s, dir) => {
      Sampling
        .epochShards(t(s, dir, "documents").select("doc_id"), "doc_id",
          epochs = 2, nShards = 8)
        .groupBy(col("epoch"), col("shard"))
        .agg(
          count(lit(1)).as("n_docs"),
          md5(array_join(
            transform(array_sort(collect_list(struct(col("seq"), col("doc_id")))),
              x => x.getField("doc_id").cast("string")), " ")).as("order_md5"))
        .orderBy("epoch", "shard")
    },
      // the shuffle is a pure function of (salt, epoch, id): the oracle
      // replays the hash, the shard assignment, and the in-shard order
      """WITH e AS (
           SELECT doc_id, epoch
           FROM documents CROSS JOIN (SELECT unnest([0, 1]) AS epoch)),
         k AS (
           SELECT epoch, doc_id,
                  md5('epoch:' || epoch::VARCHAR || ':' || doc_id::VARCHAR) AS hx
           FROM e),
         s AS (
           SELECT epoch, doc_id, hx,
                  ('0x' || substr(hx, 1, 15))::BIGINT % 8 AS shard
           FROM k)
         SELECT epoch, shard, count(*) AS n_docs,
                md5(string_agg(doc_id::VARCHAR, ' ' ORDER BY hx, doc_id)) AS order_md5
         FROM s GROUP BY 1, 2 ORDER BY 1, 2"""),

    // -- deterministic mixture INTERLEAVE: stride-scheduled global
    //    training order ((rank + φ_g)/w_g ascending) — any prefix holds
    //    each source in weight proportion; output pins the first-200
    //    schedule per language (count + order checksum)
    QueryDef("q_mixture_interleave", (s, dir) => {
      Sampling
        .mixtureInterleave(t(s, dir, "documents"), "lang",
          weights = Map("en" -> 3.0, "zh" -> 0.5))
        .orderBy("sched_key", "lang", "doc_id")
        .limit(200)
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_prefix"),
          md5(array_join(
            transform(array_sort(collect_list(struct(col("sched_key"), col("doc_id")))),
              x => x.getField("doc_id").cast("string")), " ")).as("order_md5"))
        .orderBy("lang")
    },
      // stride schedule replayed: per-lang md5 rank, phase, key, prefix-200
      """WITH r AS (
           SELECT lang, doc_id,
                  ('0x' || substr(md5('mix:' || doc_id::VARCHAR), 1, 13))::BIGINT AS rk
           FROM documents),
         rn AS (
           SELECT lang, doc_id,
                  row_number() OVER (PARTITION BY lang ORDER BY rk, doc_id) - 1 AS rnk
           FROM r),
         k AS (
           SELECT lang, doc_id,
                  floor(((rnk::DOUBLE +
                          floor((('0x' || substr(md5('mix-phi:' || lang), 1, 13))::BIGINT::DOUBLE
                                 / 4503599627370496.0) * 1e6 + 0.5) / 1e6)
                         / (CASE lang WHEN 'en' THEN 3.0 WHEN 'zh' THEN 0.5 ELSE 1.0 END))
                        * 1e6 + 0.5) / 1e6 AS sched_key
           FROM rn),
         pre AS (SELECT * FROM k ORDER BY sched_key, lang, doc_id LIMIT 200)
         SELECT lang, count(*) AS n_prefix,
                md5(string_agg(doc_id::VARCHAR, ' ' ORDER BY sched_key, doc_id)) AS order_md5
         FROM pre GROUP BY 1 ORDER BY 1"""),

    // -- character-distribution entropy (gibberish detector): 26 bound
    //    translate-count columns + a literal-ordered -p ln p fold
    QueryDef("q_char_entropy", (s, dir) => {
      TextAnalysis
        .withCharEntropy(t(s, dir, "documents"), "text")
        .select(col("doc_id"), round(col("entropy"), 6).as("entropy"))
        .orderBy("doc_id")
    },
      CharEntropySql),

    // -- session-scoped event-type transition matrix (empirical Markov
    //    chain): one window pass per user, then a |types|^2 aggregate
    QueryDef("q_event_transitions", (s, dir) => {
      operators.Journeys
        .sessionTransitions(graft.sources.EventsSource.events(s, dir))
        .orderBy("from_type", "to_type")
    },
      """WITH x AS (
           SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
                  lag(epoch_us(ts)) OVER w AS prev_us
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
         s AS (
           SELECT user_id, event_id, event_type, ts_us,
                  CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_sess
           FROM x),
         r AS (
           SELECT user_id, event_type, ts_us, event_id,
                  sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
           FROM s),
         t AS (
           SELECT event_type AS from_type,
                  lead(event_type) OVER w2 AS to_type,
                  sess_id,
                  lead(sess_id) OVER w2 AS next_sess
           FROM r
           WINDOW w2 AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         c AS (
           SELECT from_type, to_type, count(*) AS n
           FROM t WHERE to_type IS NOT NULL AND next_sess = sess_id
           GROUP BY 1, 2)
         SELECT from_type, to_type, n,
                floor((n::DOUBLE / sum(n) OVER (PARTITION BY from_type)) * 1e4 + 0.5) / 1e4 AS p
         FROM c ORDER BY from_type, to_type"""),

    // -- RFM customer segmentation: quantile scores 1..5 per dimension
    //    from chunked-prefix strictly-below counts (no customer-axis
    //    sort), pure integer bucket arithmetic, exact decimal spend
    QueryDef("q_rfm", (s, dir) =>
      operators.Journeys
        .rfmSegments(t(s, dir, "orders"), asOf = "2001-08-02", buckets = 5)
        .orderBy("custkey"),
      // strictly-below counts per metric value; integer DIV bucket math
      """WITH per AS (SELECT o_custkey AS custkey,
                             date_diff('day', max(o_orderdate)::DATE, DATE '2001-08-02')::BIGINT AS recency_days,
                             count(*)::BIGINT AS frequency,
                             sum(o_totalprice::DECIMAL(18,2))::DOUBLE AS monetary_r
                      FROM orders GROUP BY 1),
          nn AS (SELECT count(*)::BIGINT AS n FROM per),
          cr AS (SELECT v, (sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c)::BIGINT AS cb
                 FROM (SELECT recency_days AS v, count(*) AS c FROM per GROUP BY 1) g),
          cf AS (SELECT v, (sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c)::BIGINT AS cb
                 FROM (SELECT frequency AS v, count(*) AS c FROM per GROUP BY 1) g),
          cm AS (SELECT v, (sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c)::BIGINT AS cb
                 FROM (SELECT monetary_r AS v, count(*) AS c FROM per GROUP BY 1) g),
          sc AS (SELECT per.custkey, per.recency_days, per.frequency, per.monetary_r,
                        (5 - (5 * cr.cb) // nn.n)::BIGINT AS r_score,
                        ((5 * cf.cb) // nn.n + 1)::BIGINT AS f_score,
                        ((5 * cm.cb) // nn.n + 1)::BIGINT AS m_score
                 FROM per
                 JOIN cr ON cr.v = per.recency_days
                 JOIN cf ON cf.v = per.frequency
                 JOIN cm ON cm.v = per.monetary_r
                 CROSS JOIN nn)
          SELECT custkey, recency_days, frequency,
                 floor(monetary_r * 1e2 + 0.5) / 1e2 AS monetary_r,
                 r_score, f_score, m_score,
                 (r_score * 100 + f_score * 10 + m_score)::BIGINT AS rfm
          FROM sc ORDER BY custkey"""),

    // -- frequent contiguous 3-step rituals within 24h journey windows
    //    (support ≥ 60): the length-3 generalization of the transition
    //    matrix; per-user lead-k windows, (types)³-bounded count
    //    relation. The 24h gap is the corpus-honest choice: at ~2
    //    events/user/day the default 30-min sessions are 1-3 events
    //    (16 trigrams corpus-wide), while daily journeys carry 7 731
    QueryDef("q_session_ngrams", (s, dir) =>
      operators.Journeys
        .sessionNgrams(graft.sources.EventsSource.events(s, dir), n = 3,
          minSupport = 60L, gapUs = 86400000000L)
        .orderBy("g1", "g2", "g3"),
      // session CTEs + two leads; same-session contiguity filter
      """WITH x AS (
           SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
                  lag(epoch_us(ts)) OVER w AS prev_us
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
         sx AS (
           SELECT user_id, event_id, event_type, ts_us,
                  CASE WHEN prev_us IS NULL OR ts_us - prev_us > 86400000000 THEN 1 ELSE 0 END AS new_sess
           FROM x),
         rx AS (
           SELECT user_id, event_type, ts_us, event_id,
                  sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
           FROM sx),
         t3 AS (
           SELECT event_type AS g1,
                  lead(event_type, 1) OVER w2 AS g2,
                  lead(event_type, 2) OVER w2 AS g3,
                  sess_id,
                  lead(sess_id, 1) OVER w2 AS s1,
                  lead(sess_id, 2) OVER w2 AS s2
           FROM rx
           WINDOW w2 AS (PARTITION BY user_id ORDER BY ts_us, event_id))
         SELECT g1, g2, g3, count(*)::BIGINT AS n
         FROM t3
         WHERE g2 IS NOT NULL AND s1 = sess_id AND g3 IS NOT NULL AND s2 = sess_id
         GROUP BY 1, 2, 3 HAVING count(*) >= 60
         ORDER BY g1, g2, g3"""),

    // -- stationary distribution of the session transition chain (8
    //    quantized power-iteration rounds): where a long browse SPENDS
    //    its time, not just the one-step hop rates
    QueryDef("q_markov_stationary", (s, dir) => {
      operators.Journeys
        .markovStationary(
          operators.Journeys.sessionTransitions(graft.sources.EventsSource.events(s, dir)),
          iters = 8)
        .orderBy("state")
    },
      markovSql(iters = 8)),

    // -- entropy rate of the same chain: −Σ π_i Σ p_ij ln p_ij from the
    //    ROUNDED stationary vector and transition probs — how
    //    predictable the next journey step is once the chain mixes
    QueryDef("q_markov_entropy", (s, dir) =>
      operators.Journeys
        .markovEntropyRate(
          operators.Journeys.sessionTransitions(graft.sources.EventsSource.events(s, dir)),
          iters = 8),
      markovEntropySql(iters = 8)),

    // -- McNemar's paired comparison of two scorer variants (512- vs
    //    256-bucket hashed linear) against the length label: judged on
    //    DISCORDANT pairs only — sign decisions ride the exact integer
    //    numerator, so the 2×2 cells replay exactly
    QueryDef("q_mcnemar", (s, dir) => {
      val d = t(s, dir, "documents")
      val scored = d.select(
        (TextAnalysis.hashedLinearScore(col("text"), buckets = 512) >= 0)
          .cast("int").as("pred_a"),
        (TextAnalysis.hashedLinearScore(col("text"), buckets = 256) >= 0)
          .cast("int").as("pred_b"),
        (col("n_chars") >= 300).cast("int").as("label"))
      operators.Stats.mcnemar(scored, "pred_a", "pred_b", "label")
    },
      // decisions on the exact integer numerator of the hashed score
      s"""WITH $ToksArrCte,
          base AS (SELECT d.doc_id,
                     (CASE WHEN len(t.toks) = 0 THEN 0
                           ELSE list_sum(list_transform(t.toks,
                                  w -> (('0x' || substr(md5(w), 1, 8))::BIGINT % 512) % 101 - 50))
                      END >= 0)::INT AS pred_a,
                     (CASE WHEN len(t.toks) = 0 THEN 0
                           ELSE list_sum(list_transform(t.toks,
                                  w -> (('0x' || substr(md5(w), 1, 8))::BIGINT % 256) % 101 - 50))
                      END >= 0)::INT AS pred_b,
                     (d.n_chars >= 300)::INT AS label
                   FROM documents d JOIN toks_arr t USING (doc_id)),
          ag AS (SELECT count(*)::BIGINT AS n,
                        sum((pred_a = label)::INT)::BIGINT AS ca,
                        sum((pred_b = label)::INT)::BIGINT AS cb,
                        sum((pred_a = label AND pred_b <> label)::INT)::BIGINT AS b,
                        sum((pred_a <> label AND pred_b = label)::INT)::BIGINT AS c
                 FROM base)
          SELECT n, b, c,
                 floor((ca::DOUBLE / n::DOUBLE) * 1e4 + 0.5) / 1e4 AS acc_a_r,
                 floor((cb::DOUBLE / n::DOUBLE) * 1e4 + 0.5) / 1e4 AS acc_b_r,
                 floor((CASE WHEN b + c > 0
                        THEN (abs(b - c) - 1)::DOUBLE * (abs(b - c) - 1)::DOUBLE
                             / (b + c)::DOUBLE END) * 1e4 + 0.5) / 1e4 AS chi2_r
          FROM ag"""),

    // -- Wilcoxon signed-rank on paired customer spend (cents) across the
    //    1998-01-01 split: did per-customer spend shift, rank-judged so no
    //    whale customer dominates — ranks via the spearman chunked-prefix
    //    build, W+ and ties on exact decimal sums
    QueryDef("q_wilcoxon", (s, dir) => {
      val o = t(s, dir, "orders")
      val split = lit("1998-01-01").cast("timestamp")
      val cents = functions.Portable.pround(col("o_totalprice") * 100, 0).cast("long")
      val paired = o.groupBy(col("o_custkey"))
        .agg(
          sum(when(col("o_orderdate") < split, cents).otherwise(0L)).as("__e"),
          sum(when(col("o_orderdate") >= split, cents).otherwise(0L)).as("__l"),
          sum(when(col("o_orderdate") < split, 1L).otherwise(0L)).as("__ne"),
          sum(when(col("o_orderdate") >= split, 1L).otherwise(0L)).as("__nl"))
        .where(col("__ne") > 0 && col("__nl") > 0)
        .select((col("__l") - col("__e")).as("d_cents"))
      operators.Stats.wilcoxonSignedRank(paired, "d_cents")
    },
      // doubled average rank 2·cum−c+1 is an exact integer; W+ and the tie
      // term ride HUGEINT sums, z is one fixed-order double expression
      """WITH per AS (SELECT o_custkey,
               sum(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
                        THEN floor(o_totalprice * 100 + 0.5)::BIGINT ELSE 0 END) AS e,
               sum(CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01'
                        THEN floor(o_totalprice * 100 + 0.5)::BIGINT ELSE 0 END) AS l,
               sum((o_orderdate < TIMESTAMP '1998-01-01')::INT) AS ne,
               sum((o_orderdate >= TIMESTAMP '1998-01-01')::INT) AS nl
             FROM orders GROUP BY 1),
          d AS (SELECT l - e AS d FROM per WHERE ne > 0 AND nl > 0),
          nz AS (SELECT count(*)::BIGINT AS n_zero FROM d WHERE d = 0),
          pv AS (SELECT abs(d) AS a, count(*)::BIGINT AS c,
                        sum((d > 0)::INT)::BIGINT AS cp
                 FROM d WHERE d <> 0 GROUP BY 1),
          r AS (SELECT c, cp, 2 * sum(c) OVER (ORDER BY a) - c + 1 AS d2 FROM pv),
          ag AS (SELECT coalesce(sum(c), 0)::BIGINT AS n,
                        sum(cp::HUGEINT * d2::HUGEINT) AS w2,
                        sum(c::HUGEINT * c * c - c) AS tie
                 FROM r)
          SELECT n, n_zero,
                 w2::DOUBLE / 2.0 AS w_plus,
                 floor((CASE WHEN n::DOUBLE * (n::DOUBLE + 1.0) * (2.0 * n::DOUBLE + 1.0) / 24.0
                                  - tie::DOUBLE / 48.0 > 0
                        THEN (w2::DOUBLE / 2.0 - n::DOUBLE * (n::DOUBLE + 1.0) / 4.0)
                             / sqrt(n::DOUBLE * (n::DOUBLE + 1.0) * (2.0 * n::DOUBLE + 1.0) / 24.0
                                    - tie::DOUBLE / 48.0) END) * 1e4 + 0.5) / 1e4 AS z_r
          FROM ag CROSS JOIN nz"""),

    // -- one-way ANOVA of document length across languages: F and η²
    //    from exact per-group decimal sums — the k-group mean-difference
    //    readout (welch answers it pairwise, kruskal on ranks)
    QueryDef("q_anova", (s, dir) =>
      operators.Stats.anovaOneWay(t(s, dir, "documents"), "lang", "n_chars"),
      // per-group decimal sums exact; the k-sized between-group double sum
      // combines group-level terms only
      """WITH per AS (SELECT lang AS g, count(*)::BIGINT AS n,
                             sum(n_chars)::HUGEINT AS s,
                             sum(n_chars::HUGEINT * n_chars) AS ss
                      FROM documents
                      WHERE lang IS NOT NULL AND n_chars IS NOT NULL GROUP BY 1),
          ag AS (SELECT count(*)::BIGINT AS k, sum(n)::BIGINT AS n,
                        sum(s) AS t1, sum(ss) AS t2,
                        sum(s::DOUBLE * s::DOUBLE / n::DOUBLE) AS bg
                 FROM per)
          SELECT k, n,
                 floor((CASE WHEN k > 1 AND n > k AND t2::DOUBLE - bg > 0
                        THEN ((bg - t1::DOUBLE * t1::DOUBLE / n::DOUBLE) / (k - 1)::DOUBLE)
                             / ((t2::DOUBLE - bg) / (n - k)::DOUBLE) END) * 1e4 + 0.5) / 1e4 AS f_r,
                 floor((CASE WHEN t2::DOUBLE - t1::DOUBLE * t1::DOUBLE / n::DOUBLE > 0
                        THEN (bg - t1::DOUBLE * t1::DOUBLE / n::DOUBLE)
                             / (t2::DOUBLE - t1::DOUBLE * t1::DOUBLE / n::DOUBLE) END) * 1e4 + 0.5) / 1e4
                   AS eta2_r
          FROM ag"""),

    // -- Brown–Forsythe homoscedasticity check on the same factor: are
    //    the per-language length VARIANCES equal (the assumption q_anova
    //    silently makes) — ANOVA on 2|x − median_g|, exact integer sums
    QueryDef("q_levene_bf", (s, dir) =>
      operators.Stats.brownForsythe(t(s, dir, "documents"), "lang", "n_chars"),
      // w = 2|x − 6dp-rounded median| is integer (x int, med half-int):
      // exact HUGEINT sums, then the q_anova combine on w (F scale-invariant)
      """WITH rows_ AS (SELECT lang AS g, n_chars::BIGINT AS x
                        FROM documents
                        WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
          med AS (SELECT g, floor(median(x) * 1e6 + 0.5) / 1e6 AS med FROM rows_ GROUP BY 1),
          wv AS (SELECT rows_.g,
                        floor(abs(x::DOUBLE - med) * 2 + 0.5)::HUGEINT AS w
                 FROM rows_ JOIN med ON med.g = rows_.g),
          per AS (SELECT g, count(*)::BIGINT AS n,
                         sum(w) AS s, sum(w * w) AS ss
                  FROM wv GROUP BY 1),
          ag AS (SELECT count(*)::BIGINT AS k, sum(n)::BIGINT AS n,
                        sum(s) AS t1, sum(ss) AS t2,
                        sum(s::DOUBLE * s::DOUBLE / n::DOUBLE) AS bg
                 FROM per)
          SELECT k, n,
                 floor((CASE WHEN k > 1 AND n > k AND t2::DOUBLE - bg > 0
                        THEN ((bg - t1::DOUBLE * t1::DOUBLE / n::DOUBLE) / (k - 1)::DOUBLE)
                             / ((t2::DOUBLE - bg) / (n - k)::DOUBLE) END) * 1e4 + 0.5) / 1e4 AS f_r
          FROM ag"""),

    // -- Jarque–Bera normality check on the same factor: is per-language
    //    doc length even plausibly normal (the assumption behind q_anova's
    //    F and q_mde's power formula) — skew/kurtosis from exact anchored
    //    moment sums, closed-form chi2(2) p = exp(-JB/2)
    QueryDef("q_jarque_bera", (s, dir) =>
      operators.Stats.jarqueBera(t(s, dir, "documents"), "lang", "n_chars")
        .orderBy("lang"),
      // anchored-moment mirror of Stats.jarqueBera: integer anchor
      // mu = floor(s1/n + 0.5), exact HUGEINT power sums of d = x − mu,
      // shift identities with c = m1/n, rounded S/K -> rounded JB -> p
      """WITH rows_ AS (SELECT lang AS g, n_chars::BIGINT AS x
                        FROM documents
                        WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
          a AS (SELECT g, count(*)::BIGINT AS n, sum(x)::HUGEINT AS s1 FROM rows_ GROUP BY 1),
          anc AS (SELECT g, n, floor(s1::DOUBLE / n::DOUBLE + 0.5)::BIGINT AS mu FROM a),
          per AS (SELECT rows_.g, max(n)::BIGINT AS n,
                         sum(x - mu)::HUGEINT AS m1,
                         sum((x - mu)::HUGEINT * (x - mu)) AS m2,
                         sum((x - mu)::HUGEINT * (x - mu) * (x - mu)) AS m3,
                         sum((x - mu)::HUGEINT * (x - mu) * (x - mu) * (x - mu)) AS m4
                  FROM rows_ JOIN anc USING (g) GROUP BY rows_.g),
          st AS (SELECT g, n, m1::DOUBLE / n::DOUBLE AS c, m2::DOUBLE / n::DOUBLE AS r2,
                        m3::DOUBLE / n::DOUBLE AS r3, m4::DOUBLE / n::DOUBLE AS r4
                 FROM per),
          mm AS (SELECT g, n, r2 - c * c AS mc2,
                        r3 - 3.0 * c * r2 + 2.0 * c * c * c AS mc3,
                        r4 - 4.0 * c * r3 + 6.0 * c * c * r2 - 3.0 * c * c * c * c AS mc4
                 FROM st),
          sk AS (SELECT g, n,
                        floor((CASE WHEN n >= 8 AND mc2 > 0.0
                               THEN mc3 / (mc2 * sqrt(mc2)) END) * 1e6 + 0.5) / 1e6 AS skew_r,
                        floor((CASE WHEN n >= 8 AND mc2 > 0.0
                               THEN mc4 / (mc2 * mc2) END) * 1e6 + 0.5) / 1e6 AS kurt_r
                 FROM mm),
          jb AS (SELECT g, n, skew_r, kurt_r,
                        floor((n::DOUBLE / 6.0 * (skew_r * skew_r
                               + (kurt_r - 3.0) * (kurt_r - 3.0) / 4.0)) * 1e4 + 0.5) / 1e4 AS jb_r
                 FROM sk)
          SELECT g AS lang, n, skew_r, kurt_r, jb_r,
                 floor(exp(-jb_r / 2.0) * 1e6 + 0.5) / 1e6 AS p_r
          FROM jb ORDER BY lang"""),

    // -- Fisher-style randomization test: is the high-priority order
    //    value gap label noise — 64 md5-deterministic Bernoulli(p-hat)
    //    re-randomizations of the priority label, p from the share of
    //    replicas at least as extreme as the observed gap
    QueryDef("q_randomization", (s, dir) => {
      val o = t(s, dir, "orders").select(
        col("o_orderpriority").isin("1-URGENT", "2-HIGH").as("hi_pri"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"),
        col("o_orderkey"))
      operators.Stats.randomizationTest(o, "hi_pri", "cents", "o_orderkey")
    },
      """WITH rows_ AS (SELECT (o_orderpriority IN ('1-URGENT', '2-HIGH')) AS t,
                               floor(o_totalprice * 100 + 0.5)::BIGINT AS x,
                               o_orderkey AS id
                        FROM orders),
          obs AS (SELECT count(*)::BIGINT AS n, sum(t::INT)::BIGINT AS n_treat,
                         sum(CASE WHEN t THEN x ELSE 0 END)::HUGEINT AS s1,
                         sum(CASE WHEN NOT t THEN x ELSE 0 END)::HUGEINT AS s0
                  FROM rows_),
          ob2 AS (SELECT n, n_treat,
                         floor((s1::DOUBLE / n_treat::DOUBLE
                                - s0::DOUBLE / (n - n_treat)::DOUBLE) * 1e6 + 0.5) / 1e6
                           AS diff_obs_r,
                         n_treat::DOUBLE / n::DOUBLE AS frac
                  FROM obs),
          e AS (SELECT x, id, unnest(range(0, 64)) AS rep FROM rows_),
          dr AS (SELECT rep, x,
                        (('0x' || substr(md5('perm:' || (rep // 4)::VARCHAR
                                             || ':' || id::VARCHAR),
                                         (1 + (rep % 4) * 8)::INT, 8))::BIGINT
                          / 4294967296.0) < (SELECT frac FROM ob2) AS rt
                 FROM e),
          g AS (SELECT rep, sum(rt::INT)::BIGINT AS n1, sum((NOT rt)::INT)::BIGINT AS n0,
                       sum(CASE WHEN rt THEN x ELSE 0 END)::HUGEINT AS s1,
                       sum(CASE WHEN NOT rt THEN x ELSE 0 END)::HUGEINT AS s0
                FROM dr GROUP BY rep),
          d2 AS (SELECT floor((s1::DOUBLE / n1::DOUBLE - s0::DOUBLE / n0::DOUBLE) * 1e6 + 0.5) / 1e6
                          AS diff
                 FROM g WHERE n1 > 0 AND n0 > 0),
          ex AS (SELECT count(*)::BIGINT AS b_eff,
                        sum((abs(diff) >= abs((SELECT diff_obs_r FROM ob2)))::INT)::BIGINT
                          AS n_extreme
                 FROM d2)
          SELECT n, n_treat, diff_obs_r, b_eff, n_extreme,
                 floor(((n_extreme + 1)::DOUBLE / (b_eff + 1)::DOUBLE) * 1e6 + 0.5) / 1e6 AS p_r
          FROM ob2 CROSS JOIN ex"""),

    // -- empirical-Bayes shrinkage of per-supplier return rates: beta-
    //    binomial MoM prior from 1e6-scaled integer moment sums, small
    //    suppliers shrink toward the grand rate — the "1/1 = 100%
    //    returns" ranking fix
    QueryDef("q_eb_shrink", (s, dir) =>
      operators.Stats.ebShrinkRates(
        t(s, dir, "lineitem").select(col("l_suppkey").as("suppkey"),
          (col("l_returnflag") === "R").cast("long").as("ret")),
        "suppkey", "ret").orderBy("suppkey"),
      // md5 Bernoulli(p-hat) re-randomization replayed exactly; integer
      // cent sums per (rep, side); gaps rounded 6dp BEFORE the |.| compare
      // 1e6-scaled integer rate moments, MoM prior, posterior means from
      // the ROUNDED prior (mirror of Stats.ebShrinkRates)
      """WITH cells AS (SELECT l_suppkey AS suppkey, count(*)::BIGINT AS n,
                               sum((l_returnflag = 'R')::INT)::BIGINT AS k
                        FROM lineitem GROUP BY 1),
          p6 AS (SELECT *, floor(k::DOUBLE / n::DOUBLE * 1e6 + 0.5)::BIGINT AS p6
                 FROM cells),
          mom AS (SELECT count(*)::BIGINT AS gn, sum(p6)::BIGINT AS s1,
                         sum(p6::HUGEINT * p6::HUGEINT) AS s2
                  FROM p6),
          mm AS (SELECT gn, s1::DOUBLE / (gn::DOUBLE * 1e6) AS m,
                        CASE WHEN gn >= 2
                             THEN (s2::DOUBLE / 1e12
                                   - (s1::DOUBLE / 1e6) * (s1::DOUBLE / 1e6) / gn::DOUBLE)
                                  / (gn::DOUBLE - 1.0) END AS v
                 FROM mom),
          ab AS (SELECT m, v, m * (1 - m) / v - 1.0 AS ab FROM mm),
          pr AS (SELECT CASE WHEN v > 0 AND ab > 0
                             THEN floor(m * ab * 1e6 + 0.5) / 1e6 END AS a,
                        CASE WHEN v > 0 AND ab > 0
                             THEN floor((1 - m) * ab * 1e6 + 0.5) / 1e6 END AS b
                 FROM ab)
          SELECT suppkey, n, k,
                 floor(k::DOUBLE / n::DOUBLE * 1e6 + 0.5) / 1e6 AS raw_r,
                 floor((CASE WHEN a IS NOT NULL
                             THEN (k::DOUBLE + a) / (n::DOUBLE + a + b)
                             ELSE k::DOUBLE / n::DOUBLE END) * 1e6 + 0.5) / 1e6 AS shrunk_r,
                 a AS prior_a_r, b AS prior_b_r
          FROM p6 CROSS JOIN pr ORDER BY suppkey"""),

    // -- group-sequential SPRT on the purchase rate at hourly looks:
    //    Wald boundaries, literal log-odds terms shared with the oracle,
    //    cumulative counts over the hour domain, decision at the FIRST
    //    crossing — the early-stopping experiment monitor
    QueryDef("q_sprt", (s, dir) =>
      operators.Stats.sprtBernoulli(
        graft.sources.EventsSource.events(s, dir)
          .select((col("event_type") === "purchase").cast("long").as("buy"), col("ts_t")),
        "buy", "ts_t", p0 = 0.15, p1 = 0.22),
      // Wald boundaries and log-odds increments as Scala-computed literals
      // (the rboWeights discipline); hour-domain cumulatives; first
      // crossing wins over the continue fallback (mirror of
      // Stats.sprtBernoulli)
      sprtSql(p0 = 0.15, p1 = 0.22, alpha = 0.05, beta = 0.05)),

    // -- post-stratified ATE over the SAME arms/outcome as
    //    q_randomization, adjusted by order status: per-stratum gaps on
    //    exact decimal sums, 1e6-scaled integer weighting, one division —
    //    the unadjusted diff rides along so the confounding delta shows
    QueryDef("q_ate_ps", (s, dir) => {
      val o = t(s, dir, "orders").select(
        col("o_orderpriority").isin("1-URGENT", "2-HIGH").as("hi_pri"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"),
        col("o_orderstatus"))
      operators.Stats.postStratifiedAte(o, "hi_pri", "cents", "o_orderstatus")
    },
      // per-stratum exact-sum gaps, 1e6-scaled HUGEINT weighting, single
      // division (mirror of Stats.postStratifiedAte)
      """WITH r AS (SELECT (o_orderpriority IN ('1-URGENT', '2-HIGH')) AS t,
                           floor(o_totalprice * 100 + 0.5)::BIGINT AS x,
                           o_orderstatus AS g
                    FROM orders),
          c AS (SELECT g, count(*)::BIGINT AS n, sum(t::INT)::BIGINT AS nt,
                       sum(CASE WHEN t THEN x ELSE 0 END)::HUGEINT AS st,
                       sum(CASE WHEN NOT t THEN x ELSE 0 END)::HUGEINT AS sc
                FROM r GROUP BY 1),
          d AS (SELECT g, n,
                       CASE WHEN nt > 0 AND n - nt > 0
                            THEN floor((st::DOUBLE / nt::DOUBLE
                                        - sc::DOUBLE / (n - nt)::DOUBLE) * 1e6 + 0.5)::BIGINT
                       END AS d6
                FROM c),
          o AS (SELECT count(*)::BIGINT AS n, sum(t::INT)::BIGINT AS ont,
                       sum(CASE WHEN t THEN x ELSE 0 END)::HUGEINT AS ost,
                       sum(CASE WHEN NOT t THEN x ELSE 0 END)::HUGEINT AS osc
                FROM r),
          a AS (SELECT count(*)::BIGINT AS n_strata, count(d6)::BIGINT AS n_used,
                       sum(CASE WHEN d6 IS NOT NULL THEN n ELSE 0 END)::BIGINT AS nu,
                       sum(n::HUGEINT * d6::HUGEINT) AS wd
                FROM d)
          SELECT o.n, a.n_strata, a.n_used,
                 floor((ost::DOUBLE / ont::DOUBLE
                        - osc::DOUBLE / (o.n - ont)::DOUBLE) * 1e6 + 0.5) / 1e6 AS diff_raw_r,
                 floor((CASE WHEN nu > 0 THEN wd::DOUBLE / (nu::DOUBLE * 1e6) END)
                       * 1e6 + 0.5) / 1e6 AS ate_ps_r
          FROM a CROSS JOIN o"""),

    // -- S-stemmer vocabulary table: every stem with its surface-form
    //    count and merged occurrence mass (query/queries-style conflation
    //    reads n_forms >= 2; the synthetic vocabulary is singular-only,
    //    so here the table also CERTIFIES the exception rules leave real
    //    words alone) — two vocabulary-sized partial aggs, stemming a
    //    codegen'd map-side expression
    QueryDef("q_stem_vocab", (s, dir) => {
      Tokenize.tokens(t(s, dir, "documents"), "text", Seq("doc_id"))
        .groupBy(col("word")).agg(count(lit(1)).as("__n"))
        .withColumn("stem", TextAnalysis.sStem(col("word")))
        .groupBy(col("stem"))
        .agg(count(lit(1)).as("n_forms"), sum(col("__n")).as("n_tokens"))
        .orderBy("stem")
    },
      // the three anchored S-stemmer rules replay verbatim in DuckDB's
      // regex dialect (mirror of TextAnalysis.sStem)
      s"""WITH $TokCte,
          w AS (SELECT word, count(*)::BIGINT AS n FROM tok GROUP BY 1),
          s AS (SELECT CASE
                         WHEN regexp_matches(word, '[^ae]ies$$')
                           THEN regexp_replace(word, 'ies$$', 'y')
                         WHEN regexp_matches(word, '[^aeo]es$$')
                           THEN regexp_replace(word, 'es$$', 'e')
                         WHEN regexp_matches(word, '[^us]s$$')
                           THEN regexp_replace(word, 's$$', '')
                         ELSE word END AS stem, n
                FROM w)
          SELECT stem, count(*)::BIGINT AS n_forms, sum(n)::BIGINT AS n_tokens
          FROM s GROUP BY 1 ORDER BY stem"""),

    // -- two-arm log-rank test over censored user lifetimes: md5-parity
    //    arms (the q_hash_split randomization), O−E and hypergeometric
    //    variance per event day, χ²(1) from exact 1e6-scaled term sums
    QueryDef("q_logrank", (s, dir) =>
      operators.Journeys.logRank(
        graft.sources.EventsSource.events(s, dir), censorDays = 7),
      // md5-parity arms replayed; per-t O−E and V rounded to 6dp then
      // 1e6-scaled into exact HUGEINT sums (order-independent Σ over days)
      """WITH pu AS (
           SELECT user_id AS k, min(ts::DATE) AS first_d, max(ts::DATE) AS last_d
           FROM events GROUP BY 1),
         hz AS (SELECT max(last_d) AS end_d FROM pu),
         lt AS (
           SELECT (('0x' || substr(md5('arm:' || k::VARCHAR), 1, 8))::BIGINT % 2)::INT AS arm,
                  date_diff('day', first_d, last_d) AS t_days,
                  date_diff('day', last_d, end_d) >= 7 AS churned
           FROM pu CROSS JOIN hz),
         byt AS (
           SELECT t_days, count(*)::BIGINT AS n_ending,
                  sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n1_ending,
                  sum(CASE WHEN churned THEN 1 ELSE 0 END)::BIGINT AS d_all,
                  sum(CASE WHEN churned AND arm = 1 THEN 1 ELSE 0 END)::BIGINT AS d1
           FROM lt GROUP BY 1),
         att AS (
           SELECT *,
                  sum(n_ending) OVER w AS n_at,
                  sum(n1_ending) OVER w AS n1_at
           FROM byt
           WINDOW w AS (ORDER BY t_days ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
         terms AS (
           SELECT n_ending, n1_ending, d1,
                  CASE WHEN d_all > 0
                       THEN floor((d1::DOUBLE - d_all::DOUBLE * n1_at::DOUBLE / n_at::DOUBLE) * 1e6 + 0.5)::HUGEINT
                       ELSE 0 END AS ome_i,
                  CASE WHEN d_all > 0
                       THEN floor((d_all::DOUBLE * n1_at::DOUBLE / n_at::DOUBLE) * 1e6 + 0.5)::HUGEINT
                       ELSE 0 END AS e1_i,
                  CASE WHEN d_all > 0 AND n_at > 1
                       THEN floor((d_all::DOUBLE * (n1_at::DOUBLE / n_at::DOUBLE)
                                   * ((n_at::DOUBLE - n1_at::DOUBLE) / n_at::DOUBLE)
                                   * ((n_at::DOUBLE - d_all::DOUBLE) / (n_at::DOUBLE - 1.0))) * 1e6 + 0.5)::HUGEINT
                       ELSE 0 END AS v_i
           FROM att),
         s AS (
           SELECT sum(n_ending)::BIGINT AS n_users, sum(n1_ending)::BIGINT AS n1,
                  sum(d1)::BIGINT AS d1_total,
                  sum(ome_i) AS so, sum(e1_i) AS se, sum(v_i) AS sv
           FROM terms)
         SELECT n_users, n1, (n_users - n1)::BIGINT AS n0, d1_total,
                se::DOUBLE / 1e6 AS e1_r,
                floor((CASE WHEN sv > 0
                       THEN (so::DOUBLE / 1e6) * (so::DOUBLE / 1e6) / (sv::DOUBLE / 1e6) END) * 1e4 + 0.5) / 1e4
                  AS chi2_r
         FROM s"""),

    // -- content-defined chunking: token-hash cut points (rsync/LBFS rule
    //    at token granularity) — boundaries survive upstream insertions,
    //    so chunk hashes match across near-duplicate documents
    QueryDef("q_cdc_chunks", (s, dir) => {
      operators.Chunking
        .chunkByContent(t(s, dir, "documents"), modulus = 16)
        .orderBy("doc_id", "chunk_id")
    },
      """WITH t0 AS (
           SELECT doc_id,
                  list_filter(
                    list_transform(regexp_split_to_array(text, '\s+'),
                                   x -> regexp_replace(lower(x), '[^a-z]', '', 'g')),
                    w -> w <> '') AS toks
           FROM documents),
         b AS (
           SELECT doc_id, toks,
                  list_concat(list_concat(
                    [0],
                    list_filter(range(1, len(toks)),
                                i -> ('0x' || substr(md5(toks[i]), 1, 8))::BIGINT % 16 = 0)),
                    [len(toks)]) AS bounds
           FROM t0),
         ch AS (
           SELECT doc_id, j - 1 AS chunk_id,
                  list_slice(toks, bounds[j] + 1, bounds[j + 1]) AS chunk
           FROM (SELECT doc_id, toks, bounds, unnest(range(1, len(bounds))) AS j FROM b) u)
         SELECT doc_id, chunk_id, len(chunk) AS n_tok,
                md5(array_to_string(chunk, ' ')) AS chunk_hash
         FROM ch WHERE len(chunk) > 0 ORDER BY doc_id, chunk_id"""),

    // -- bigram-LM quality score: add-one-smoothed bigram model trained
    //    on the corpus itself, mean ln P(w2|w1) per doc — the coherence
    //    signal unigram statistics can't see
    QueryDef("q_bigram_lm", (s, dir) => {
      TextAnalysis
        .bigramLogProbScore(t(s, dir, "documents"))
        .orderBy("doc_id")
    },
      """WITH t0 AS (
           SELECT doc_id,
                  list_filter(
                    list_transform(regexp_split_to_array(text, '\s+'),
                                   x -> regexp_replace(lower(x), '[^a-z]', '', 'g')),
                    w -> w <> '') AS toks
           FROM documents),
         big AS (
           SELECT doc_id, toks[i] AS w1, toks[i] || ' ' || toks[i + 1] AS bigram
           FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
                 FROM t0 WHERE len(toks) >= 2) u),
         uni AS (SELECT w, count(*) AS n1
                 FROM (SELECT unnest(toks) AS w FROM t0) x GROUP BY 1),
         c2 AS (SELECT bigram, count(*) AS n2 FROM big GROUP BY 1),
         v AS (SELECT count(*) AS vs FROM uni),
         sc AS (
           SELECT doc_id, count(*) AS n_big,
                  avg(ln((n2 + 1)::DOUBLE / (n1 + vs)::DOUBLE)) AS mlp
           FROM big JOIN c2 USING (bigram)
           JOIN uni ON uni.w = big.w1 CROSS JOIN v
           GROUP BY doc_id)
         SELECT d.doc_id, coalesce(n_big, 0) AS n_big,
                floor((coalesce(mlp, 0.0)) * 1e4 + 0.5) / 1e4 AS mean_lp
         FROM documents d LEFT JOIN sc USING (doc_id) ORDER BY d.doc_id"""),

    // -- symmetric int8 embedding quantization: per-vector scale, integer
    //    codes, reconstruction MSE — one map-side pass, no shuffle
    QueryDef("q_embed_int8", (s, dir) => {
      // codes stringified for the cross-engine compare (raw int arrays
      // break the harness hasher) — same convention as doc_ids_str
      Similarity
        .int8Quantize(t(s, dir, "embeddings"))
        .select(col("vec_id"), col("scale_r"),
          array_join(col("codes"), " ").as("codes_str"), col("mse_r"))
        .orderBy("vec_id")
    },
      """WITH q AS (
           SELECT vec_id, embedding,
                  list_max(list_transform(embedding, x -> abs(x::DOUBLE))) / 127.0 AS scale
           FROM embeddings),
         coded AS (
           SELECT vec_id, embedding, scale,
                  CASE WHEN scale = 0 THEN list_transform(embedding, x -> 0)
                       ELSE list_transform(embedding, x -> floor(x::DOUBLE / scale + 0.5)::INT)
                  END AS codes
           FROM q)
         SELECT vec_id,
                floor((scale) * 1e8 + 0.5) / 1e8 AS scale_r,
                array_to_string(codes, ' ') AS codes_str,
                floor((list_sum(list_transform(range(1, len(embedding) + 1),
                         i -> (embedding[i]::DOUBLE - codes[i]::DOUBLE * scale)
                            * (embedding[i]::DOUBLE - codes[i]::DOUBLE * scale)))
                       / len(embedding)::DOUBLE) * 1e10 + 0.5) / 1e10 AS mse_r
         FROM coded ORDER BY vec_id"""),

    // -- weighted sampling WITHOUT replacement (A-ES): 100 docs drawn
    //    proportional to n_chars, deterministic md5 draws, global top-k
    //    as TakeOrderedAndProject
    QueryDef("q_weighted_sample", (s, dir) => {
      Sampling
        .weightedSample(t(s, dir, "documents"), "doc_id", "n_chars", k = 100)
        .select(col("doc_id"), col("n_chars"), col("rk"))
        .orderBy("doc_id")
    },
      """WITH h AS (
           SELECT doc_id, n_chars,
                  (('0x' || substr(md5('wsample:' || doc_id::VARCHAR), 1, 13))::BIGINT + 1)::DOUBLE
                    / 4503599627370496.0 AS u
           FROM documents WHERE n_chars > 0),
         keyed AS (
           SELECT doc_id, n_chars,
                  floor((ln(u) / n_chars::DOUBLE) * 1e12 + 0.5) / 1e12 AS rk
           FROM h),
         top AS (SELECT * FROM keyed ORDER BY rk DESC, doc_id LIMIT 100)
         SELECT doc_id, n_chars, rk FROM top ORDER BY doc_id"""),

    // -- DSIR hashed importance weights: log-likelihood ratio of each
    //    doc's hashed unigram+bigram features under the target (lang=en)
    //    vs raw distribution — the trained-classifier-free domain tilt;
    //    bucket-space (256) log ratios broadcast into the scoring join
    QueryDef("q_dsir_weights", (s, dir) => {
      TextAnalysis
        .importanceWeights(t(s, dir, "documents"), col("lang") === "en", buckets = 256)
        .orderBy("doc_id")
    },
      DsirWeightsSql(select = false)),

    // -- DSIR selection half: Gumbel top-k over the log weights — sample
    //    100 docs ∝ exp(logw) without replacement, without ever
    //    exponentiating; md5-drawn Gumbel noise, TakeOrderedAndProject
    QueryDef("q_dsir_select", (s, dir) => {
      Sampling
        .gumbelTopK(
          TextAnalysis
            .importanceWeights(t(s, dir, "documents"), col("lang") === "en", buckets = 256),
          "doc_id", "logw_r", k = 100, salt = "dsirsel")
        .orderBy("doc_id")
    },
      DsirWeightsSql(select = true)),

    // -- BPE trainer step: corpus-wide adjacent character-pair counts at
    //    the initial merge state, top-50 — the argmax IS the first merge;
    //    corpus reduces to vocabulary BEFORE pair enumeration
    QueryDef("q_bpe_pairs", (s, dir) => {
      TextAnalysis
        .bpePairCounts(Tokenize.tokens(t(s, dir, "documents"), "text", Seq("doc_id")))
        .orderBy(desc("cnt"), asc("pair"))
        .limit(50)
    },
      s"""WITH $TokCte,
          vocab AS (SELECT word AS w, count(*) AS n FROM tok GROUP BY 1),
          p AS (SELECT substr(w, i, 1) || ' ' || substr(w, i + 1, 1) AS pair, n
                FROM (SELECT w, n, unnest(range(1, len(w))) AS i
                      FROM vocab WHERE len(w) >= 2) u)
          SELECT pair, sum(n)::BIGINT AS cnt FROM p GROUP BY 1
          ORDER BY cnt DESC, pair LIMIT 50"""),

    // -- the full BPE trainer loop: 3 rounds of (pair-count, argmax, greedy
    //    merge) — rounds 2..3 count over MERGED symbols, so the oracle
    //    cross-checks merge application, not just counting
    QueryDef("q_bpe_merges", (s, dir) => {
      TextAnalysis
        .bpeMerges(Tokenize.tokens(t(s, dir, "documents"), "text", Seq("doc_id")), 3)
        .orderBy("iter")
    },
      bpeOracleSql(3),
      Some(Iteration(
        "early-exit: trainer loop `for (it <- 1 to k if !exhausted)` " +
          "stops when no pair clears minPair (TextAnalysis.bpeTrain); k merge budget is the bound",
        (s, dir) =>
          TextAnalysis.bpeRoundArgmax(TextAnalysis.bpeVocabPlan(
            Tokenize.tokens(docs(s, dir), "text", Seq("doc_id"))))))),

    // -- TRAINED logistic-regression quality classifier (the GPT-3/WebText
    //    filter recipe, fit in-engine): 3 full-batch GD rounds on hashed
    //    token-bucket counts vs the weak lang='en' label; micro-int weights,
    //    σ re-quantized per doc, so the all-integer artifact replays exactly
    QueryDef("q_logreg_train", (s, dir) => {
      TextAnalysis
        .logregTrain(t(s, dir, "documents"), col("lang") === "en",
          rounds = 3, buckets = 64, lr = 0.1)
        .orderBy("iter", "bucket")
    },
      logregOracleSql(3, 64, "0.1"),
      Some(Iteration(
        "bounded-rounds: full-batch GD runs exactly `rounds` epochs by " +
          "definition — the training budget IS the declared semantics (oracle unrolls the same " +
          "rounds as CTEs; no loss fixpoint exists at integer-quantized weights that would not " +
          "oscillate) (TextAnalysis.logregTrain)",
        (s, dir) => {
          import org.apache.spark.sql.functions.col
          val (feats, labels) = TextAnalysis.logregFeaturePlan(
            docs(s, dir), col("lang") === "en")
          import s.implicits._
          val wDf = Seq((0L, 0L)).toDF("__b", "__wm")
          TextAnalysis.logregGradients(feats,
            TextAnalysis.logregErrors(feats, labels, wDf, 0L))
        }))),

    // -- WordPiece trainer (Schuster & Nakajima 2012 / BERT): likelihood-
    //    scored merges cnt(ab)/(cnt(a)·cnt(b)) over the ##-marked
    //    symbolization — the third subword trainer beside BPE (count
    //    argmax) and unigram-LM (EM pruning); artifact all-integer
    QueryDef("q_wordpiece", (s, dir) => {
      TextAnalysis
        .wordpieceMerges(Tokenize.tokens(t(s, dir, "documents"), "text", Seq("doc_id")), 3)
        .orderBy("iter")
    },
      wordpieceOracleSql(3),
      Some(Iteration(
        "early-exit: same `for (it <- 1 to k if !exhausted)` trainer loop as " +
          "q_bpe_merges with the likelihood argmax; exhaustion (no mergeable pair) exits early, " +
          "k merge budget is the bound (TextAnalysis.wordpieceMerges)",
        (s, dir) =>
          TextAnalysis.wordpieceRoundArgmax(TextAnalysis.wordpieceVocabPlan(
            Tokenize.tokens(docs(s, dir), "text", Seq("doc_id"))))))),

    // -- the tokenizer's ENCODE side: train 3 merges, then segment every
    //    vocabulary word with the learned table (greedy per merge, in
    //    training order) — trainer + encoder = a complete BPE tokenizer
    QueryDef("q_bpe_encode", (s, dir) => {
      val toks = Tokenize.tokens(t(s, dir, "documents"), "text", Seq("doc_id"))
      val merges = TextAnalysis.bpeMerges(toks, 3)
        .orderBy("iter").collect().map(_.getString(1)).toSeq
      TextAnalysis
        .bpeApply(toks.select("word").distinct(), merges)
        .select(col("word"), array_join(col("pieces"), " ").as("pieces_str"),
          col("n_pieces"))
        .orderBy("word")
    },
      bpeOracleSql(3, mode = "encode"),
      Some(Iteration(
        "bounded-rounds: encode applies the LEARNED merge table " +
          "sequentially — merges.length rounds by definition (BPE apply order is the semantics)",
        (s, dir) =>
          TextAnalysis.bpeApply(
            Tokenize.tokens(docs(s, dir), "text", Seq("doc_id")).select("word").distinct(),
            litMerges)
            .select(col("word"), array_join(col("pieces"), " ").as("pieces_str"), col("n_pieces"))))),

    // -- the tokenizer's PRODUCTION job: train 3 merges, then encode every
    //    DOCUMENT to its token-id sequence — distinct words segmented once
    //    (vocab-sized), joined back to the positional token stream,
    //    flattened per doc; ids derive from the merge table alone
    QueryDef("q_bpe_tokenize", (s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = TextAnalysis
        .bpeMerges(Tokenize.tokens(docs, "text", Seq("doc_id")), 3)
        .orderBy("iter").collect().map(_.getString(1)).toSeq
      TextAnalysis.bpeEncodeDocs(docs, merges)
        .select(col("doc_id"),
          array_join(transform(col("token_ids"), x => x.cast("string")), " ").as("ids_str"),
          col("n_words"), col("n_pieces"))
        .orderBy("doc_id")
    },
      bpeOracleSql(3, mode = "docs"),
      Some(Iteration(
        "bounded-rounds: same merge-table application as q_bpe_encode, " +
          "doc-side; rounds = merges.length by definition",
        (s, dir) =>
          TextAnalysis.bpeEncodeDocs(docs(s, dir), litMerges)
            .select(col("doc_id"),
              array_join(transform(col("token_ids"), x => x.cast("string")), " ").as("ids_str"),
              col("n_words"), col("n_pieces"))))),

    // -- sequence packing by REAL tokenizer counts: BPE-encode the corpus
    //    (3 learned merges), then budget packs in model tokens instead of
    //    the whitespace proxy — countCol wires the encoder into the packer
    QueryDef("q_pack_bpe", (s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = TextAnalysis
        .bpeMerges(Tokenize.tokens(docs, "text", Seq("doc_id")), 3)
        .orderBy("iter").collect().map(_.getString(1)).toSeq
      val counted = docs.select(col("doc_id"), col("lang"))
        .join(TextAnalysis.bpeEncodeDocs(docs, merges).select("doc_id", "n_pieces"),
          Seq("doc_id"))
      operators.Packing
        .packByOffset(counted, budget = 8192, countCol = Some("n_pieces"))
        .orderBy("doc_id")
    },
      bpeOracleSql(3, mode = "pack"),
      Some(Iteration(
        "bounded-rounds: merge-table application (q_bpe_encode) feeding the " +
          "one-pass offset packer; rounds = merges.length by definition",
        (s, dir) => {
          val d = docs(s, dir)
          val counted = d.select(col("doc_id"), col("lang"))
            .join(TextAnalysis.bpeEncodeDocs(d, litMerges).select("doc_id", "n_pieces"),
              Seq("doc_id"))
          graft.operators.Packing.packByOffset(counted, budget = 8192, countCol = Some("n_pieces"))
        }))),

    // -- rolling z-score anomaly flags: each value vs the 10 strictly
    //    preceding observations per user (bounded window); warm-up rows
    //    skipped, zero-variance histories emit z = 0
    QueryDef("q_rolling_zscore", (s, dir) => {
      operators.TimeSeries
        .rollingZscore(graft.sources.EventsSource.events(s, dir), n = 10, thr = 3.0)
        .orderBy("user_id", "event_id")
    },
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, value FROM events),
         w AS (SELECT user_id, event_id, value,
                      avg(value) OVER win AS m,
                      stddev_samp(value) OVER win AS s,
                      count(value) OVER win AS c
               FROM e
               WINDOW win AS (PARTITION BY user_id ORDER BY ts_us, event_id
                              ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING))
         SELECT user_id, event_id, value,
                floor((CASE WHEN s > 0 THEN (value - m) / s ELSE 0.0 END) * 1e4 + 0.5) / 1e4
                  AS z_r,
                (abs(floor((CASE WHEN s > 0 THEN (value - m) / s ELSE 0.0 END) * 1e4 + 0.5) / 1e4)
                 > 3.0)::INTEGER AS is_anomaly
         FROM w WHERE c = 10 ORDER BY user_id, event_id"""),

    // -- per-user daily resample + forward fill: dense fixed-step series
    //    from the sparse event log, gaps carry the last observed average
    QueryDef("q_resample_ffill", (s, dir) => {
      operators.TimeSeries
        .resampleFfill(graft.sources.EventsSource.events(s, dir), "user_id", "ts_t", "value")
        .orderBy("user_id", "bucket")
    },
      """WITH daily AS (
           SELECT user_id, date_trunc('day', ts) AS bucket,
                  floor((avg(value)) * 1e4 + 0.5) / 1e4 AS v
           FROM events GROUP BY 1, 2),
         span AS (SELECT user_id, min(bucket) AS d0, max(bucket) AS d1 FROM daily GROUP BY 1),
         spine AS (
           SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS bucket FROM span),
         j AS (
           SELECT s.user_id, s.bucket, d.v
           FROM spine s LEFT JOIN daily d ON d.user_id = s.user_id AND d.bucket = s.bucket)
         SELECT user_id, bucket,
                last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bucket
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
                (v IS NULL) AS is_gap
         FROM j ORDER BY user_id, bucket"""),

    // -- SemDeDup: cluster embeddings to IVF cells, drop vectors with a
    //    smaller-id cell-mate above the cosine threshold — the pair space
    //    is Σ|cell|², never N²
    QueryDef("q_semdedup", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity
        .semDedup(emb, emb.where(col("vec_id") < 8), thr = 0.25)
        .orderBy("vec_id")
    },
      // assignment CTE mirrors q_ann_ivf's argmax (6-dp cos, c_id ASC ties);
      // the maxCell=4096 guard is mirrored though vacuous at test scale
      """WITH e AS (
           SELECT vec_id, embedding,
                  sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
                       i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))) AS nrm
           FROM embeddings),
         c AS (SELECT vec_id AS c_id, embedding AS cv, nrm AS cn FROM e WHERE vec_id < 8),
         p AS (
           SELECT e.vec_id, c_id,
                  list_sum(list_transform(range(1, len(e.embedding) + 1),
                       i -> e.embedding[i]::DOUBLE * cv[i]::DOUBLE)) / (e.nrm * cn) AS cos
           FROM e CROSS JOIN c),
         asg AS (
           SELECT vec_id, c_id AS cell FROM (
             SELECT vec_id, c_id,
                    row_number() OVER (PARTITION BY vec_id
                                       ORDER BY floor((cos) * 1e6 + 0.5) / 1e6 DESC, c_id) AS rn
             FROM p) r WHERE rn = 1),
         m AS (SELECT e.vec_id, cell, embedding, nrm FROM e JOIN asg USING (vec_id)),
         ok AS (SELECT cell FROM m GROUP BY cell HAVING count(*) BETWEEN 2 AND 4096),
         d AS (
           SELECT DISTINCT b.vec_id
           FROM m a JOIN m b ON a.cell = b.cell AND a.vec_id < b.vec_id
           JOIN ok ON ok.cell = a.cell
           WHERE list_sum(list_transform(range(1, len(a.embedding) + 1),
                     i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)) / (a.nrm * b.nrm) >= 0.25)
         SELECT m.vec_id, cell, (d.vec_id IS NULL) AS keep
         FROM m LEFT JOIN d ON d.vec_id = m.vec_id ORDER BY m.vec_id"""),

    // -- Johnson-Lindenstrauss random projection: 64-dim embeddings to 8
    //    md5-derived directions (scaled sqrt(12/m) to preserve norms) —
    //    map-side, matrix shipped as literals, oracle replays the md5
    QueryDef("q_random_proj", (s, dir) => {
      Similarity
        .randomProject(t(s, dir, "embeddings"), m = 8)
        .orderBy("vec_id")
    },
      randomProjSql(m = 8, seedOffset = 500)),

    // -- kNN majority-vote label eval: neighbor-vote label noise /
    //    class-separability check (labelAudit's confident-learning
    //    sibling); rankings via bounded CosTopK, mode via min_by argmax
    QueryDef("q_knn_label_eval", (s, dir) => {
      operators.Similarity
        .knnLabelEval(t(s, dir, "embeddings"), kNeighbors = 5, nQueries = 50)
        .orderBy("true_label")
    },
      // brute-force ranking mirrored with the q_embed_cosine_topk rank key
      // (floor-rounded cos DESC, id ASC); vote mode = (count DESC, label ASC)
      """WITH e AS (
           SELECT vec_id, embedding, label,
                  sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
                       i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))) AS nrm
           FROM embeddings),
         q AS (SELECT vec_id AS q_id, embedding AS qv, nrm AS qn, label AS ql
               FROM e WHERE vec_id < 50),
         p AS (SELECT q_id, e.vec_id, e.label AS nl,
                      floor((list_sum(list_transform(range(1, len(e.embedding) + 1),
                            i -> qv[i]::DOUBLE * e.embedding[i]::DOUBLE)) / (qn * e.nrm)) * 1e6 + 0.5) / 1e6 AS cos_r
               FROM q CROSS JOIN e WHERE e.vec_id <> q_id),
         tk AS (SELECT q_id, nl FROM (
                  SELECT q_id, nl,
                         row_number() OVER (PARTITION BY q_id ORDER BY cos_r DESC, vec_id) AS rnk
                  FROM p) r WHERE rnk <= 5),
         v AS (SELECT q_id, nl, count(*) AS c FROM tk GROUP BY 1, 2),
         pr AS (SELECT q_id, nl AS pred FROM v
                QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY c DESC, nl) = 1)
         SELECT ql AS true_label, count(*) AS n_queries,
                sum(CASE WHEN pred = ql THEN 1 ELSE 0 END)::BIGINT AS n_correct,
                floor((sum(CASE WHEN pred = ql THEN 1 ELSE 0 END)::DOUBLE / count(*)) * 1e6 + 0.5) / 1e6 AS acc_r
         FROM pr JOIN q USING (q_id)
         GROUP BY 1 ORDER BY 1"""),

    // -- top principal component by power iteration: 3 rounds of
    //    w = Xᵀ(Xv) — one corpus pass per round, d-sized driver state,
    //    per-round 6-dp quantization so the unrolled oracle replays
    //    every round exactly
    QueryDef("q_pca_power", (s, dir) => {
      operators.Similarity
        .powerIteration(t(s, dir, "embeddings"), rounds = 3)
    },
      PcaPowerSql(64, 3),
      Some(Iteration(
        "bounded-rounds: fixed quantized power rounds, mirrored 1:1 by the " +
          "oracle's unrolled CTEs — the per-round 6-dp quantization makes every round exactly " +
          "replayable and the output carries n_rounds, so the budget IS the declared semantics " +
          "(Similarity.powerIteration)",
        // round 12: one power-iteration round body — per-row dot against the
        // broadcast-literal v (plan shape independent of v's values), then
        // the d-sized per-component partial-agg sum
        (s, dir) => {
          val data = s.read.parquet(s"$dir/embeddings.parquet")
            .select(transform(col("embedding"), x => x.cast("double")).as("x"))
          val vLit = array(Seq.fill(64)(lit(0.5)): _*)
          data
            .withColumn("__dot", graft.operators.Similarity.dot(col("x"), vLit))
            .select(posexplode(transform(col("x"), e => e * col("__dot"))).as(Seq("pos", "wv")))
            .groupBy(col("pos"))
            .agg(sum(col("wv")).as("w"))
        }))),

    // -- top-2 principal components via DEFLATION: extract, project out
    //    with the quantized vector (bit-identical deflated stream — the
    //    per-row dot is the same left fold both engines run), repeat;
    //    EVRs share the original total variance so they add up
    QueryDef("q_pca_top2", (s, dir) => {
      operators.Similarity
        .powerIterationTop(t(s, dir, "embeddings"), components = 2, rounds = 3)
        .orderBy("component")
    },
      PcaTopSql(64, 3, 2),
      Some(Iteration(
        "bounded-rounds: deflation runs exactly `components` passes by definition",
        // round 12: the deflation pass between components — map-side dot
        // bound once, then the indexed projection (no per-element re-eval)
        (s, dir) => {
          val data = s.read.parquet(s"$dir/embeddings.parquet")
            .select(transform(col("embedding"), x => x.cast("double")).as("x"))
          val vLit = array(Seq.fill(64)(lit(0.5)): _*)
          data
            .withColumn("__d", graft.operators.Similarity.dot(col("x"), vLit))
            .select(transform(col("x"), (e, i) => e - col("__d") * element_at(vLit, i + 1)).as("x"))
        }))),

    // -- CDC MERGE apply: fold a changelog (deletes, multi-version
    //    updates, inserts; synthesized deterministically from orders so
    //    the oracle can mirror it) into the base snapshot — latest seq
    //    per key wins via ONE partially-aggregated max_by shuffle
    QueryDef("q_cdc_apply", (s, dir) => {
      val base = cdcBase(s, dir)
      operators.ChangeData
        .applyChangelog(base, cdcChangelog(base), "o_orderkey")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 2).as("price"))
        .orderBy("o_orderkey")
    },
      """WITH base AS (
           SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, 0 AS seq, 'I' AS op FROM orders),
         ch AS (
           SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, 1 AS seq, 'D' AS op
           FROM orders WHERE o_orderkey % 10 = 0
           UNION ALL
           SELECT o_orderkey, o_custkey, 'U1', o_totalprice + 100, 1, 'U'
           FROM orders WHERE o_orderkey % 10 = 1
           UNION ALL
           SELECT o_orderkey, o_custkey, 'U2', o_totalprice + 200, 2, 'U'
           FROM orders WHERE o_orderkey % 10 = 1
           UNION ALL
           SELECT o_orderkey + 10000000, o_custkey, 'N', 1.0, 1, 'I'
           FROM orders WHERE o_orderkey % 100 = 7),
         u AS (SELECT * FROM base UNION ALL SELECT * FROM ch)
         SELECT o_orderkey, o_custkey, o_orderstatus,
                floor((o_totalprice) * 1e2 + 0.5) / 1e2 AS price
         FROM u
         QUALIFY row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) = 1 AND op <> 'D'
         ORDER BY o_orderkey"""),

    // -- TEMPORAL join against the SCD2 history: each fact (at seq
    //    key%3) enriched with the dimension version current AT ITS OWN
    //    sequence — deletion gaps and pre-history facts surface as NULLs,
    //    not today's values; plain key equi-join, version chains bounded
    QueryDef("q_temporal_join", (s, dir) => {
      val base = cdcBase(s, dir)
      val hist = operators.ChangeData
        .scdType2(base, cdcChangelog(base), "o_orderkey")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          col("valid_from"), col("valid_to"))
      val facts = base.select(col("o_orderkey"), (col("o_orderkey") % 3).as("fact_seq"))
      operators.ChangeData
        .temporalJoin(facts, hist, "o_orderkey", "fact_seq")
        .select(col("o_orderkey"), col("fact_seq"), col("o_orderstatus"),
          round(col("o_totalprice"), 2).as("price"), col("valid_from"))
        .orderBy("o_orderkey")
    },
      // the point-in-time predicate mirrored on the same history CTE;
      // exactly one version (or none) matches per fact
      s"""WITH $CdcChangelogCte,
         v AS (
           SELECT *, lead(seq) OVER (PARTITION BY o_orderkey ORDER BY seq) AS next_seq
           FROM u),
         hist AS (
           SELECT o_orderkey AS hk, o_orderstatus, o_totalprice,
                  seq AS valid_from, next_seq AS valid_to
           FROM v WHERE op <> 'D'),
         f AS (SELECT o_orderkey, o_orderkey % 3 AS fact_seq FROM orders)
         SELECT f.o_orderkey, f.fact_seq, h.o_orderstatus,
                floor((h.o_totalprice) * 1e2 + 0.5) / 1e2 AS price,
                h.valid_from
         FROM f LEFT JOIN hist h
           ON h.hk = f.o_orderkey AND f.fact_seq >= h.valid_from
              AND (h.valid_to IS NULL OR f.fact_seq < h.valid_to)
         ORDER BY f.o_orderkey"""),

    // -- SCD Type 2 history build: every version a key ever had as its
    //    own row, framed by (valid_from, valid_to) sequences; same
    //    synthesized changelog as q_cdc_apply so the two operators
    //    cross-check — the is_current slice of this history equals the
    //    CDC MERGE snapshot (pinned in ScdType2Spec)
    QueryDef("q_scd2_history", (s, dir) => {
      val base = cdcBase(s, dir)
      operators.ChangeData
        .scdType2(base, cdcChangelog(base), "o_orderkey")
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 2).as("price"),
          col("valid_from"), col("valid_to"), col("is_current"))
        .orderBy("o_orderkey", "valid_from")
    },
      // the lead() closing each version runs over ALL events (D included)
      // BEFORE the D filter — a delete closes the chain without opening a
      // version, mirroring ChangeData.scdType2's withColumn-then-where order
      s"""WITH $CdcChangelogCte,
         v AS (
           SELECT *, lead(seq) OVER (PARTITION BY o_orderkey ORDER BY seq) AS next_seq
           FROM u)
         SELECT o_orderkey, o_orderstatus,
                floor((o_totalprice) * 1e2 + 0.5) / 1e2 AS price,
                seq AS valid_from, next_seq AS valid_to,
                next_seq IS NULL AS is_current
         FROM v WHERE op <> 'D'
         ORDER BY o_orderkey, valid_from"""))

  /** Base snapshot for the CDC family (q_cdc_apply / q_scd2_history). */
  private def cdcBase(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))

  /** Deterministic synthesized changelog over the CDC base: deletes
    * (key%10=0), two-version updates (key%10=1, seq 1 then 2), inserts
    * (key%100=7, shifted key) — shared by q_cdc_apply / q_scd2_history so
    * their oracles mirror the identical event stream.
    */
  private def cdcChangelog(base: DataFrame): DataFrame = {
    val dels = base.where(col("o_orderkey") % 10 === 0)
      .withColumn("seq", lit(1L)).withColumn("op", lit("D"))
    val upd1 = base.where(col("o_orderkey") % 10 === 1)
      .withColumn("o_orderstatus", lit("U1"))
      .withColumn("o_totalprice", col("o_totalprice") + 100)
      .withColumn("seq", lit(1L)).withColumn("op", lit("U"))
    val upd2 = base.where(col("o_orderkey") % 10 === 1)
      .withColumn("o_orderstatus", lit("U2"))
      .withColumn("o_totalprice", col("o_totalprice") + 200)
      .withColumn("seq", lit(2L)).withColumn("op", lit("U"))
    val ins = base.where(col("o_orderkey") % 100 === 7)
      .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
      .withColumn("o_orderstatus", lit("N"))
      .withColumn("o_totalprice", lit(1.0))
      .withColumn("seq", lit(1L)).withColumn("op", lit("I"))
    dels.unionByName(upd1).unionByName(upd2).unionByName(ins)
  }

  /** DuckDB CTE: distinct k-gram shingles per doc (short docs → one whole-doc
    * shingle), mirroring TextAnalysis.shingles.
    */
  /** DuckDB CTE chain ending in `pars(doc_id, par_idx, par_text)` — the
    * mirror of Dedup.paragraphs' fixed `parTokens`-word raw spans.
    */
  private def paragraphCtes(parTokens: Int): String =
    s"""w0 AS (SELECT doc_id,
                      list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS w
               FROM documents),
        pars AS (SELECT doc_id, i AS par_idx,
                        array_to_string(list_slice(w, i * $parTokens + 1, i * $parTokens + $parTokens), ' ') AS par_text
                 FROM (SELECT doc_id, w, unnest(range(0, ((len(w) - 1) // $parTokens) + 1)) AS i
                       FROM w0 WHERE len(w) >= 1) u)"""

  private def shinglesCte(k: Int, filter: String = "", src: String = "documents"): String =
    s"""toks0 AS (
          SELECT doc_id,
                 list_filter(
                   list_transform(regexp_split_to_array(text, '\\s+'),
                                  x -> regexp_replace(lower(x), '[^a-z]', '', 'g')),
                   w -> w <> '') AS toks
          FROM $src $filter),
        sh AS (
          SELECT doc_id,
                 CASE WHEN len(toks) = 0 THEN []::VARCHAR[]
                      WHEN len(toks) >= $k
                      THEN list_distinct(list_transform(range(1, len(toks) - $k + 2),
                                         i -> array_to_string(list_slice(toks, i, i + $k - 1), ' ')))
                      ELSE [array_to_string(toks, ' ')] END AS shingles
          FROM toks0)"""

  /** DuckDB mirror of Dedup.weightedMinhashCandidates: identical ICWS
    * draws — (u32+0.5)/2^32 md5 uniforms, Gamma(2,1) = −(ln u₁ + ln u₂),
    * log-space ln a = ln c − r(t−β+1) rounded 6 dp — and the identical
    * lexicographic struct-min argmin (lnA, shingle, t), then the shared
    * banding/cap tail.
    */
  /** ICWS per-shingle draw encodings (mirror of Dedup.drawEnc): same
    * fixed-prefix sortable encoding — min(enc) == the (lnA6 asc, payload
    * asc) argmin, and substr(·, 13) is the sample. Reads columns `s`, `w`.
    */
  private def wEncCols(numHashes: Int): String = {
    def u(digest: String, slice: Int): String =
      s"(('0x' || substr($digest, ${slice * 6 + 1}, 6))::BIGINT::DOUBLE + 0.5) / 16777216.0"
    (0 until numHashes).map { g =>
      val d1 = s"md5('w$g:' || s)"
      val r = s"(-(ln(${u(d1, 0)}) + ln(${u(d1, 1)})))"
      val cln = s"ln(-(ln(${u(d1, 2)}) + ln(${u(d1, 3)})))"
      val beta = u(d1, 4)
      val t = s"floor(ln(w) / $r + $beta)"
      s"""lpad((floor(($cln - $r * ($t - $beta + 1.0)) * 1e6 + 0.5)::BIGINT
                + 1000000000)::VARCHAR, 12, '0') || s || ':' || ($t)::BIGINT::VARCHAR AS e$g"""
    }.mkString(",\n          ")
  }

  /** Weighted band-key list over min-columns m0..m{n−1}. */
  private def wBandList(numHashes: Int, bands: Int): String = {
    val rows = numHashes / bands
    (0 until bands).map { b =>
      val parts = (b * rows until (b + 1) * rows)
        .map(g => s"substr(m$g, 13)").mkString(" || '|' || ")
      s"'$b|' || md5($parts)"
    }.mkString(", ")
  }

  private def wminhashSql(shingleK: Int, numHashes: Int, bands: Int, maxBucket: Int): String = {
    val encCols = wEncCols(numHashes)
    val minCols = (0 until numHashes).map(g => s"min(e$g) AS m$g").mkString(", ")
    val bandList = wBandList(numHashes, bands)
    // N counts docs with a non-empty shingle set — equivalent to the Spark
    // side's rlike '[A-Za-z]' guard (shingles empty iff no letter survives)
    s"""WITH ${shinglesCte(shingleK)},
        nn AS (SELECT count(*)::DOUBLE AS n FROM sh WHERE len(shingles) > 0),
        ds AS (SELECT doc_id, unnest(shingles) AS s FROM sh WHERE len(shingles) > 0),
        dfr AS (SELECT s, count(*)::BIGINT AS df FROM ds GROUP BY s),
        wt AS (SELECT doc_id, s,
                      greatest(floor(ln((nn.n + 1.0) / df::DOUBLE) * 1e6 + 0.5) / 1e6,
                               0.000001) AS w
               FROM ds JOIN dfr USING (s) CROSS JOIN nn),
        enc AS (SELECT doc_id,
          $encCols
                FROM wt),
        m AS (SELECT doc_id, $minCols FROM enc GROUP BY doc_id),
        bands AS (SELECT doc_id, unnest([$bandList]) AS band FROM m),
        keep AS (SELECT band FROM bands GROUP BY band HAVING count(*) BETWEEN 2 AND $maxBucket),
        pairs AS (SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
                  FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
                  JOIN keep k ON k.band = a.band)
        SELECT doc1, doc2 FROM pairs ORDER BY doc1, doc2"""
  }

  /** DuckDB mirror of TextAnalysis.unigramLm / unigramFertility (fixed-
    * round unroll, the bpeOracleSql pattern): seed substring counts, then
    * per EM round one Viterbi DP unrolled position-by-position — integer
    * micro-log-prob scores, (s DESC, path ASC) argmax per prefix — and a
    * recount with the single-char Laplace floor; prune + renormalize at
    * the end. Every dp CTE is MATERIALIZED (each is referenced by the
    * next maxPieceLen rounds — un-materialized it inlines exponentially).
    */
  private def unigramSql(mode: String, seedSize: Int = 100, keepMulti: Int = 40,
      emRounds: Int = 2, maxPieceLen: Int = 4, maxWordLen: Int = 12): String = {
    def dpCtes(tag: String, lpTbl: String): String = {
      val sb = new StringBuilder
      sb ++= s"d${tag}_0 AS (SELECT w, n, 0::BIGINT AS s, '' AS path FROM wrd),\n"
      for (i <- 1 to maxWordLen) {
        val branches = (1 to math.min(maxPieceLen, i)).map { j =>
          val st = i - j + 1
          s"""SELECT d.w, d.n, d.s + l.lp AS s,
                 CASE WHEN d.path = '' THEN substr(d.w, $st, $j)
                      ELSE d.path || ' ' || substr(d.w, $st, $j) END AS path
              FROM d${tag}_${i - j} d JOIN $lpTbl l ON l.piece = substr(d.w, $st, $j)
              WHERE length(d.w) >= $i"""
        }.mkString("\n              UNION ALL\n              ")
        sb ++= s"""d${tag}_$i AS MATERIALIZED (
            SELECT w, n, s, path FROM (
              SELECT w, n, s, path,
                     row_number() OVER (PARTITION BY w ORDER BY s DESC, path ASC) AS rn
              FROM ($branches) u) v
            WHERE rn = 1),\n"""
      }
      sb ++= s"""seg$tag AS (${(1 to maxWordLen)
        .map(i => s"SELECT w, n, path FROM d${tag}_$i WHERE length(w) = $i")
        .mkString(" UNION ALL ")}),\n"""
      sb.toString
    }
    def lpCte(name: String, src: String): String =
      s"""$name AS MATERIALIZED (SELECT piece,
            floor(ln(cnt::DOUBLE / (SELECT sum(cnt) FROM $src)::DOUBLE) * 1e6 + 0.5)::BIGINT AS lp
          FROM $src),\n"""
    val sb = new StringBuilder
    sb ++= s"""WITH $TokCte,
        wrd AS (SELECT word AS w, count(*)::BIGINT AS n FROM tok
                WHERE length(word) <= $maxWordLen GROUP BY word),
        sub AS (SELECT piece, sum(n)::BIGINT AS cnt FROM (
                  SELECT n, unnest(flatten(list_transform(range(1, length(w) + 1), i ->
                         list_transform(range(i, least(length(w)::BIGINT, i + ${maxPieceLen - 1}) + 1), j ->
                           substr(w, i::INT, (j - i + 1)::INT))))) AS piece
                  FROM wrd) u GROUP BY piece),
        chrs AS (SELECT piece, cnt FROM sub WHERE length(piece) = 1),
        v0 AS MATERIALIZED (SELECT piece, cnt FROM chrs
              UNION ALL
              SELECT piece, cnt FROM (SELECT piece, cnt FROM sub WHERE length(piece) >= 2
                                      ORDER BY cnt DESC, piece LIMIT $seedSize) t),\n"""
    sb ++= lpCte("l0", "v0")
    for (r <- 1 to emRounds) {
      sb ++= dpCtes(s"$r", s"l${r - 1}")
      sb ++= s"""cnt$r AS (SELECT piece, sum(n)::BIGINT AS cnt FROM (
                  SELECT n, unnest(string_split(path, ' ')) AS piece FROM seg$r) u
                GROUP BY piece),
          v$r AS MATERIALIZED (SELECT piece, cnt FROM cnt$r
                UNION ALL
                SELECT c.piece, 1::BIGINT AS cnt FROM chrs c
                WHERE c.piece NOT IN (SELECT piece FROM cnt$r)),\n"""
      sb ++= lpCte(s"l$r", s"v$r")
    }
    sb ++= s"""pr AS MATERIALIZED (SELECT piece, cnt FROM v$emRounds WHERE length(piece) = 1
              UNION ALL
              SELECT piece, cnt FROM (SELECT piece, cnt FROM v$emRounds WHERE length(piece) >= 2
                                      ORDER BY cnt DESC, piece LIMIT $keepMulti) t),\n"""
    if (mode == "vocab") {
      // trailing dummy CTE keeps the comma discipline simple
      sb ++= "fin AS (SELECT 1)\n"
      sb ++= s"""SELECT piece, cnt,
              floor(ln(cnt::DOUBLE / (SELECT sum(cnt) FROM pr)::DOUBLE) * 1e6 + 0.5) / 1e6 AS logp_r
          FROM pr ORDER BY piece"""
    } else {
      sb ++= lpCte("lpr", "pr")
      sb ++= dpCtes("f", "lpr")
      sb ++= s"""np AS (SELECT w, len(string_split(path, ' '))::BIGINT AS np FROM segf)
          SELECT d.lang, count(*)::BIGINT AS tot_words, sum(np.np)::BIGINT AS tot_pieces,
                 floor((sum(np.np)::DOUBLE / count(*)::DOUBLE) * 1e4 + 0.5) / 1e4 AS fertility_r
          FROM tok t JOIN np ON np.w = t.word JOIN documents d USING (doc_id)
          GROUP BY d.lang ORDER BY lang"""
    }
    sb.toString
  }

  /** DuckDB mirror of Dedup.substringOverlapPairs: same tokenizer, same
    * per-position anchorK-gram md5 anchors, same df cap, same
    * gaps-and-islands maximal-run reconstruction.
    */
  /** CTE chain ending in `spans(doc1, doc2, start1, start2, span_len)` —
    * the Dedup.substringOverlapPairs mirror, shared by q_dedup_substr and
    * the strip-action q_dedup_substr_strip.
    */
  private def substrSpanCtes(minTokens: Int, anchorK: Int, dfCap: Int): String =
    s"""toks0 AS (
          SELECT doc_id,
                 list_filter(
                   list_transform(regexp_split_to_array(text, '\\s+'),
                                  x -> regexp_replace(lower(x), '[^a-z]', '', 'g')),
                   w -> w <> '') AS toks
          FROM documents),
        base AS (SELECT doc_id, toks FROM toks0 WHERE len(toks) >= $anchorK),
        grams AS (SELECT doc_id, i - 1 AS p,
                         md5(array_to_string(list_slice(toks, i, i + $anchorK - 1), ' ')) AS g
                  FROM (SELECT doc_id, toks,
                               unnest(range(1, len(toks) - $anchorK + 2)) AS i
                        FROM base)),
        cnt AS (SELECT g, count(*) AS n FROM grams GROUP BY g),
        keep AS (SELECT g FROM cnt WHERE n BETWEEN 2 AND $dfCap),
        m AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, a.p AS p1, b.p - a.p AS off
              FROM grams a
              JOIN keep k ON k.g = a.g
              JOIN grams b ON b.g = a.g AND a.doc_id < b.doc_id),
        runs AS (SELECT doc1, doc2, off, p1,
                        p1 - row_number() OVER (PARTITION BY doc1, doc2, off ORDER BY p1) AS grp
                 FROM m),
        sp AS (SELECT doc1, doc2, off, min(p1) AS s1, count(*) AS mc
               FROM runs GROUP BY doc1, doc2, off, grp),
        spans AS (SELECT doc1, doc2, s1::BIGINT AS start1, (s1 + off)::BIGINT AS start2,
                         (mc + $anchorK - 1)::BIGINT AS span_len
                  FROM sp
                  WHERE mc + $anchorK - 1 >= $minTokens)"""

  private def substrOverlapSql(minTokens: Int, anchorK: Int, dfCap: Int): String =
    s"""WITH ${substrSpanCtes(minTokens, anchorK, dfCap)}
        SELECT doc1, doc2, start1, start2, span_len
        FROM spans ORDER BY doc1, doc2, start1, start2"""

  /** DuckDB mirror of Dedup.substringStrip: doc2-side intervals DISTINCT,
    * gaps-and-islands union per doc (running-max-end frame — tie rows
    * carry identical values, engine-order-safe), positions from merged
    * islands only, left-join verdict onto the positional token stream,
    * ordered string_agg rebuild.
    */
  private def substrStripSql(minTokens: Int, anchorK: Int, dfCap: Int): String =
    s"""WITH ${substrSpanCtes(minTokens, anchorK, dfCap)},
        iv AS (SELECT DISTINCT doc2 AS doc_id, start2 AS s, start2 + span_len AS e FROM spans),
        mi AS (SELECT doc_id, s, e,
                      max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
               FROM iv),
        mo AS (SELECT doc_id, s, e,
                      sum(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
                        OVER (PARTITION BY doc_id ORDER BY s, e
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
               FROM mi),
        mg AS (SELECT doc_id, min(s) AS s, max(e) AS e FROM mo GROUP BY doc_id, isl),
        sps AS (SELECT doc_id, unnest(range(s, e)) AS p, TRUE AS strip FROM mg),
        tp AS (SELECT doc_id, i - 1 AS p, toks[i] AS w
               FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM toks0)),
        vd AS (SELECT tp.doc_id, count(*) AS n_toks,
                      sum(CASE WHEN sps.strip THEN 1 ELSE 0 END)::BIGINT AS n_stripped,
                      string_agg(CASE WHEN sps.strip IS NULL THEN tp.w END, ' ' ORDER BY tp.p) AS kept_text
               FROM tp LEFT JOIN sps ON sps.doc_id = tp.doc_id AND sps.p = tp.p
               GROUP BY tp.doc_id)
        SELECT d.doc_id, coalesce(n_toks, 0) AS n_toks,
               coalesce(n_stripped, 0) AS n_stripped,
               coalesce(kept_text, '') AS kept_text
        FROM documents d LEFT JOIN vd USING (doc_id) ORDER BY d.doc_id"""

  /** DuckDB mirror of Dedup.wminhashCrossDups: snapshot draws/idf from the
    * CORPUS side only (df over corpus, N = corpus non-empty count), batch
    * signatures from those FROZEN draws via the vocabulary inner join,
    * product-capped band buckets, then exact snapshot-weighted Jaccard on
    * integer micro-weights (w6 = ⌊w·1e6+0.5⌋ summed as BIGINT).
    */
  private def wminhashCrossSql(
      shingleK: Int, numHashes: Int, bands: Int, maxBucket: Int,
      threshold: Double, splitId: Long): String = {
    val encCols = wEncCols(numHashes)
    val minCols = (0 until numHashes).map(g => s"min(e$g) AS m$g").mkString(", ")
    val bandList = wBandList(numHashes, bands)
    s"""WITH ${shinglesCte(shingleK)},
        nn AS (SELECT count(*)::DOUBLE AS n FROM sh
               WHERE doc_id >= $splitId AND len(shingles) > 0),
        cds AS (SELECT doc_id, unnest(shingles) AS s FROM sh
                WHERE doc_id >= $splitId AND len(shingles) > 0),
        bds AS (SELECT doc_id, unnest(shingles) AS s FROM sh
                WHERE doc_id < $splitId AND len(shingles) > 0),
        dfr AS (SELECT s, count(*)::BIGINT AS df FROM cds GROUP BY s),
        wt0 AS (SELECT s,
                       greatest(floor(ln((nn.n + 1.0) / df::DOUBLE) * 1e6 + 0.5) / 1e6,
                                0.000001) AS w
                FROM dfr CROSS JOIN nn),
        enc AS (SELECT s,
          $encCols
                FROM wt0),
        cm AS (SELECT doc_id, $minCols
               FROM cds JOIN enc USING (s) GROUP BY doc_id),
        bm AS (SELECT doc_id, $minCols
               FROM bds JOIN enc USING (s) GROUP BY doc_id),
        cbands AS (SELECT doc_id, unnest([$bandList]) AS band FROM cm),
        bbands AS (SELECT doc_id, unnest([$bandList]) AS band FROM bm),
        bkc AS (SELECT band,
                       count(DISTINCT CASE WHEN isnew THEN doc_id END)::BIGINT AS n1,
                       count(DISTINCT CASE WHEN NOT isnew THEN doc_id END)::BIGINT AS n2
                FROM (SELECT band, doc_id, TRUE AS isnew FROM bbands
                      UNION ALL
                      SELECT band, doc_id, FALSE FROM cbands) u
                GROUP BY band),
        keep AS (SELECT band FROM bkc WHERE n1 >= 1 AND n2 >= 1 AND n1 * n2 <= $maxBucket),
        cand AS (SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS corpus_id
                 FROM bbands a JOIN cbands b ON b.band = a.band
                 JOIN keep k ON k.band = a.band),
        w6 AS (SELECT s, floor(w * 1e6 + 0.5)::BIGINT AS w6 FROM wt0),
        nsw AS (SELECT b.doc_id AS new_id, b.s, w6.w6 FROM bds b JOIN w6 USING (s)),
        csw AS (SELECT c.doc_id AS corpus_id, c.s, w6.w6 FROM cds c JOIN w6 USING (s)),
        na AS (SELECT new_id, sum(w6)::BIGINT AS wa FROM nsw GROUP BY new_id),
        ca AS (SELECT corpus_id, sum(w6)::BIGINT AS wb FROM csw GROUP BY corpus_id),
        ix AS (SELECT c.new_id, c.corpus_id, sum(n.w6)::BIGINT AS i
               FROM cand c
               JOIN nsw n ON n.new_id = c.new_id
               JOIN csw s2 ON s2.corpus_id = c.corpus_id AND s2.s = n.s
               GROUP BY 1, 2)
        SELECT ix.new_id, ix.corpus_id,
               floor((ix.i::DOUBLE / (na.wa + ca.wb - ix.i)::DOUBLE) * 1e4 + 0.5) / 1e4 AS wjaccard_r
        FROM ix JOIN na USING (new_id) JOIN ca USING (corpus_id)
        WHERE ix.i::DOUBLE / (na.wa + ca.wb - ix.i)::DOUBLE >= $threshold
        ORDER BY new_id, corpus_id"""
  }

  /** DuckDB mirror of Dedup.minhashCandidates (same md5 seeding/banding). */
  /** CTE chain ending in `pairs(doc1, doc2)` — the DuckDB mirror of
    * Dedup.minhashCandidates, shared by q_dedup_minhash and q_dedup_groups.
    */
  private def minhashPairsCtes(shingleK: Int, numHashes: Int, bands: Int, maxBucket: Int,
      src: String = "documents"): String = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rows = numHashes / bands
    // 4 independent 32-bit hashes per digest (8-hex slices), mirroring
    // Dedup.signatureFromDigests' seed-group/slice layout
    val sigs = (0 until numHashes)
      .map(i => s"list_min(list_transform(shingles, s -> substr(md5('${i / 4}:' || s), ${(i % 4) * 8 + 1}, 8))) AS sig$i")
      .mkString(", ")
    val bandList = (0 until bands)
      .map(b => s"'$b|' || md5(${(0 until rows).map(r => s"sig${b * rows + r}").mkString(" || ")})")
      .mkString(", ")
    s"""${shinglesCte(shingleK, src = src)},
        sigs AS (SELECT doc_id, $sigs FROM sh WHERE len(shingles) > 0),
        bands AS (SELECT doc_id, unnest([$bandList]) AS band FROM sigs),
        keep AS (SELECT band FROM bands GROUP BY band HAVING count(*) BETWEEN 2 AND $maxBucket),
        pairs AS (SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
                  FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
                  JOIN keep k ON k.band = a.band)"""
  }

  /** CTE chain ending in `sig(doc_id, simhash)` — the DuckDB mirror of
    * Dedup.simhash at `bits` signature width (32 for q_simhash, 60 for
    * q_simhash_pairs).
    */
  private def simhashSigCte(bits: Int): String =
    s"""$TokCte,
        freq AS (SELECT doc_id, word, count(*) AS freq FROM tok GROUP BY doc_id, word),
        hashed AS (SELECT doc_id, freq,
                          ('0x' || substr(md5(word), 1, 15))::BIGINT AS h
                   FROM freq),
        bits AS (SELECT doc_id, bit,
                        sum(CASE WHEN (h >> bit) % 2 = 1 THEN freq ELSE -freq END) AS bitsum
                 FROM hashed CROSS JOIN (SELECT unnest(range(0, $bits)) AS bit) b
                 GROUP BY doc_id, bit),
        sig AS (SELECT doc_id,
                       sum(CASE WHEN bitsum > 0 THEN (1::BIGINT << bit) ELSE 0 END)::BIGINT AS simhash
                FROM bits GROUP BY doc_id)"""

  private def minhashSql(shingleK: Int, numHashes: Int, bands: Int, maxBucket: Int): String =
    s"""WITH ${minhashPairsCtes(shingleK, numHashes, bands, maxBucket)}
        SELECT doc1, doc2 FROM pairs ORDER BY doc1, doc2"""

  /** DuckDB mirror of [[graft.operators.Dedup.crossCorpusNearDups]] with the
    * new batch = doc_id < `splitId`, corpus = the rest: same banding as
    * minhashPairsCtes, buckets kept iff both sides present and the pair
    * PRODUCT is under the cap, candidates strictly new × corpus, then exact
    * shingle-set Jaccard verification at `threshold`.
    */
  private def crossDedupSql(
      shingleK: Int, numHashes: Int, bands: Int, maxBucket: Int,
      threshold: Double, splitId: Long): String = {
    val rows = numHashes / bands
    val sigs = (0 until numHashes)
      .map(i => s"list_min(list_transform(shingles, s -> substr(md5('${i / 4}:' || s), ${(i % 4) * 8 + 1}, 8))) AS sig$i")
      .mkString(", ")
    val bandList = (0 until bands)
      .map(b => s"'$b|' || md5(${(0 until rows).map(r => s"sig${b * rows + r}").mkString(" || ")})")
      .mkString(", ")
    s"""WITH ${shinglesCte(shingleK)},
        sigs AS (SELECT doc_id, $sigs FROM sh WHERE len(shingles) > 0),
        bands AS (SELECT doc_id, unnest([$bandList]) AS band FROM sigs),
        bk AS (SELECT band,
                      count(DISTINCT CASE WHEN doc_id < $splitId THEN doc_id END) AS nn,
                      count(DISTINCT CASE WHEN doc_id >= $splitId THEN doc_id END) AS nc
               FROM bands GROUP BY band),
        keep AS (SELECT band FROM bk WHERE nn >= 1 AND nc >= 1 AND nn * nc <= $maxBucket),
        cand AS (SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS corpus_id
                 FROM bands a
                 JOIN bands b ON a.band = b.band AND a.doc_id < $splitId AND b.doc_id >= $splitId
                 JOIN keep k ON k.band = a.band),
        ds AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        sz AS (SELECT doc_id, len(shingles)::BIGINT AS nsh FROM sh),
        inter AS (SELECT c.new_id, c.corpus_id, count(*) AS i
                  FROM cand c
                  JOIN ds a ON a.doc_id = c.new_id
                  JOIN ds b ON b.doc_id = c.corpus_id AND b.s = a.s
                  GROUP BY 1, 2)
        SELECT i.new_id, i.corpus_id,
               floor((i.i::DOUBLE / (sa.nsh + sb.nsh - i.i)::DOUBLE) * 1e4 + 0.5) / 1e4 AS jaccard_r
        FROM inter i
        JOIN sz sa ON sa.doc_id = i.new_id
        JOIN sz sb ON sb.doc_id = i.corpus_id
        WHERE i.i::DOUBLE / (sa.nsh + sb.nsh - i.i)::DOUBLE >= $threshold
        ORDER BY new_id, corpus_id"""
  }

  /** DuckDB mirror of [[graft.operators.Dedup.lshPlan]]: the divisor
    * relation as VALUES, fixed-order midpoint-grid S-curve integrals via
    * list_sum over range (the lshBucketExpr ordered-fold precedent), and
    * the argmin pick as an ORDER BY … LIMIT 1 scalar. */
  private def lshPlanSql(numHashes: Int, threshold: Double, gridN: Int): String = {
    val divisors = (1 to numHashes).filter(numHashes % _ == 0)
      .map(b => s"($b, ${numHashes / b})").mkString(", ")
    val t = threshold.toString
    val gd = gridN.toDouble.toString
    val sE = s"((i::DOUBLE - 0.5) / $gd)"
    val pE = s"1.0 - pow(1.0 - pow($sE, rows_per_band::DOUBLE), bands::DOUBLE)"
    s"""WITH base AS (SELECT * FROM (VALUES $divisors) AS t0(bands, rows_per_band)),
        g AS (SELECT bands, rows_per_band,
                     list_sum(list_transform(range(1, ${gridN + 1}),
                       i -> CASE WHEN $sE < $t THEN $pE ELSE 0.0 END)) / $gd AS fp,
                     list_sum(list_transform(range(1, ${gridN + 1}),
                       i -> CASE WHEN $sE >= $t THEN 1.0 - ($pE) ELSE 0.0 END)) / $gd AS fn,
                     pow(1.0 - pow(0.5, 1.0 / bands::DOUBLE), 1.0 / rows_per_band::DOUBLE) AS s50
              FROM base),
        r2 AS (SELECT bands, rows_per_band,
                      floor(s50 * 1e6 + 0.5) / 1e6 AS s50_r,
                      floor(fp * 1e6 + 0.5) / 1e6 AS fp_r,
                      floor(fn * 1e6 + 0.5) / 1e6 AS fn_r
               FROM g),
        r3 AS (SELECT *, floor((fp_r + fn_r) * 1e6 + 0.5) / 1e6 AS cost_r FROM r2),
        m AS (SELECT cost_r AS mc, bands AS mb FROM r3 ORDER BY cost_r, bands LIMIT 1)
        SELECT bands, rows_per_band, s50_r, fp_r, fn_r, cost_r,
               CASE WHEN cost_r = (SELECT mc FROM m) AND bands = (SELECT mb FROM m)
                    THEN 1 ELSE 0 END AS is_opt
        FROM r3 ORDER BY bands"""
  }

  /** DuckDB mirror of [[graft.operators.Sampling.doremiWeights]]: exact
    * integer LM counts, 6-dp-rounded cross-entropies, micro-int exp
    * weights with an exact normalizing sum. Literals (η, smoothing) are
    * interpolated from the SAME Scala doubles the Spark side binds. */
  private def doremiOracleSql(eta: Double, smooth: Double): String = {
    val oneMinus = (1.0 - smooth).toString
    s"""WITH $TokCte,
        tokl AS (SELECT d.lang AS dm, t.word AS w
                 FROM tok t JOIN documents d USING (doc_id)),
        cdw AS (SELECT dm, w, count(*) AS c FROM tokl GROUP BY 1, 2),
        cw AS (SELECT w, sum(c)::BIGINT AS cwt FROM cdw GROUP BY 1),
        td AS (SELECT dm, sum(c)::BIGINT AS totd FROM cdw GROUP BY 1),
        vt AS (SELECT count(*)::BIGINT AS vs, sum(cwt)::BIGINT AS tot FROM cw),
        ce AS (
          SELECT cdw.dm, max(totd) AS totd,
                 sum(c * ln((c + 1)::DOUBLE / (totd + vs)::DOUBLE)) AS sown,
                 sum(c * ln((cwt + 1)::DOUBLE / (tot + vs)::DOUBLE)) AS smix
          FROM cdw JOIN cw USING (w) JOIN td USING (dm) CROSS JOIN vt
          GROUP BY 1),
        r AS (
          SELECT dm, totd,
                 floor((-(sown / totd)) * 1e6 + 0.5) / 1e6 AS own_ce_r,
                 floor((-(smix / totd)) * 1e6 + 0.5) / 1e6 AS mix_ce_r
          FROM ce),
        x AS (SELECT *, floor((mix_ce_r - own_ce_r) * 1e6 + 0.5) / 1e6 AS excess_r FROM r),
        em AS (SELECT *, floor(exp($eta * excess_r) * 1e6 + 0.5)::BIGINT AS emic FROM x),
        st AS (SELECT sum(emic)::BIGINT AS s, count(*)::BIGINT AS ng FROM em)
        SELECT dm AS lang, totd AS n_tok, own_ce_r, mix_ce_r, excess_r,
               floor(($oneMinus * (emic::DOUBLE / s::DOUBLE) + $smooth / ng::DOUBLE) * 1e6 + 0.5) / 1e6 AS alpha_r
        FROM em CROSS JOIN st ORDER BY lang"""
  }

  /** Unrolled DuckDB oracle for [[graft.operators.Similarity.kmeansParallelInit]]:
    * per round min-d² (micro ints, left-fold dims) → 1-row φ → the exact
    * integer sampling verdict u·φ < ℓ·d²ᵢ·2⁶⁰ in HUGEINT (decimal(38,0) on
    * the Spark side) → capped (u, id) candidate cut → candidate union; then
    * the attraction-weight argmin over the final candidate set.
    */
  private def kmeansParallelSql(rounds: Int, oversample: Int, cap: Int): String = {
    def d2expr(e: String, c: String) =
      s"""floor(list_sum(list_transform(range(1, len($e.embedding) + 1),
          i -> ($e.embedding[i]::DOUBLE - $c.embedding[i]::DOUBLE) * ($e.embedding[i]::DOUBLE - $c.embedding[i]::DOUBLE))) * 1e6 + 0.5)::BIGINT"""
    val rs = (1 to rounds).map { r =>
      val prev = s"cand${r - 1}"
      s"""d$r AS (SELECT e.vec_id, min(${d2expr("e", "c")}) AS d2
                  FROM embeddings e CROSS JOIN $prev c GROUP BY 1),
         phi$r AS (SELECT sum(d2)::HUGEINT AS phi FROM d$r),
         p$r AS (SELECT vec_id
                 FROM (SELECT vec_id, d2,
                              ('0x' || substr(md5('kmpp:$r:' || vec_id::VARCHAR), 1, 15))::BIGINT AS u
                       FROM d$r) s CROSS JOIN phi$r
                 WHERE u::HUGEINT * phi < $oversample::HUGEINT * d2::HUGEINT * 1152921504606846976::HUGEINT
                 ORDER BY u, vec_id LIMIT $cap),
         cand$r AS (SELECT * FROM $prev UNION ALL
                    SELECT e.vec_id AS cid, $r AS rnd, e.embedding
                    FROM embeddings e JOIN p$r USING (vec_id))"""
    }.mkString(",\n")
    s"""WITH cand0 AS (
          SELECT vec_id AS cid, 0 AS rnd, embedding FROM embeddings ORDER BY vec_id LIMIT 1),
        $rs,
        asg AS (SELECT e.vec_id, c.cid, ${d2expr("e", "c")} AS d2i
                FROM embeddings e CROSS JOIN cand$rounds c),
        best AS (SELECT vec_id, cid FROM asg
                 QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2i, cid) = 1),
        w AS (SELECT cid, count(*) AS weight FROM best GROUP BY 1)
        SELECT c.cid AS center_id, c.rnd AS entered_round,
               coalesce(w.weight, 0)::BIGINT AS weight
        FROM cand$rounds c LEFT JOIN w USING (cid)
        ORDER BY center_id"""
  }

  /** DuckDB mirror of Similarity.withLshBucket's bucket expression (over a
    * relation aliased/projected so `embedding` resolves).
    */
  private def lshBucketExpr(planes: Int, seedOffset: Int = 0): String = {
    val proj = (seed: Int) =>
      s"""list_sum(list_transform(range(1, len(embedding) + 1),
          i -> embedding[i]::DOUBLE * (('0x' || substr(md5($seed || ':' || i), 1, 8))::BIGINT::DOUBLE / 4294967296.0 - 0.5)))"""
    (0 until planes)
      .map(p => s"CASE WHEN ${proj(seedOffset + p)} > 0 THEN (1::BIGINT << $p) ELSE 0 END")
      .mkString(" + ")
  }

  private def lshBucketSql(planes: Int): String =
    s"""SELECT vec_id, (${lshBucketExpr(planes)})::BIGINT AS bucket FROM embeddings ORDER BY vec_id"""

  /** DuckDB mirror of [[graft.operators.Similarity.randomProject]]: same
    * md5 direction formula as [[lshBucketExpr]], kept real-valued and
    * scaled √(12/m), one 4-dp column per component.
    */
  private def randomProjSql(m: Int, seedOffset: Int): String = {
    val scale = math.sqrt(12.0 / m)
    val comps = (0 until m).map { j =>
      val seed = seedOffset + j
      s"""floor(((list_sum(list_transform(range(1, len(embedding) + 1),
          i -> embedding[i]::DOUBLE * (('0x' || substr(md5('$seed' || ':' || i), 1, 8))::BIGINT::DOUBLE / 4294967296.0 - 0.5)))) * $scale) * 1e4 + 0.5) / 1e4 AS p$j"""
    }.mkString(",\n                ")
    s"SELECT vec_id,\n                $comps\n         FROM embeddings ORDER BY vec_id"
  }

  /** Shared DuckDB CTE: the reference tokenizer over `documents`. */
  /** DuckDB CTE chain ending in `sc(doc_id, n_big, mlp)` — the interpolated
    * Kneser–Ney bigram scorer mirror (TextAnalysis.knBigramLogProbScore):
    * every model count exact-integer, the one derived constant D
    * 6-dp-rounded before use, the per-bigram term the IDENTICAL
    * left-associated double expression as the Spark side. Shared by
    * q_kn_lm and q_kn_ppl_buckets.
    */
  private val KnScoreCtes =
    """t0 AS (
           SELECT doc_id,
                  list_filter(
                    list_transform(regexp_split_to_array(text, '\s+'),
                                   x -> regexp_replace(lower(x), '[^a-z]', '', 'g')),
                    w -> w <> '') AS toks
           FROM documents),
         big AS (
           SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
           FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
                 FROM t0 WHERE len(toks) >= 2) u),
         c2 AS (SELECT w1, w2, count(*) AS n2 FROM big GROUP BY 1, 2),
         ctx AS (SELECT w1, sum(n2)::BIGINT AS c1, count(*) AS fanout
                 FROM c2 GROUP BY 1),
         cont AS (SELECT w2, count(*) AS contw2 FROM c2 GROUP BY 1),
         tot AS (SELECT count(*) AS btypes,
                        sum(CASE WHEN n2 = 1 THEN 1 ELSE 0 END)::BIGINT AS t1,
                        sum(CASE WHEN n2 = 2 THEN 1 ELSE 0 END)::BIGINT AS t2
                 FROM c2),
         d0 AS (SELECT btypes,
                       CASE WHEN t1 + 2 * t2 = 0 THEN 0.5
                            ELSE floor((t1::DOUBLE / (t1 + 2 * t2)::DOUBLE) * 1e6 + 0.5) / 1e6
                       END AS dd
                FROM tot),
         sc AS (
           SELECT doc_id, count(*) AS n_big,
                  avg(ln(greatest(n2 - dd, 0.0) / c1 +
                         dd * fanout / c1 * (contw2::DOUBLE / btypes::DOUBLE))) AS mlp
           FROM big JOIN c2 USING (w1, w2) JOIN ctx USING (w1)
           JOIN cont USING (w2) CROSS JOIN d0
           GROUP BY doc_id)"""

  private val TokCte =
    """tok AS (
         SELECT doc_id, w AS word FROM (
           SELECT doc_id,
                  regexp_replace(lower(unnest(regexp_split_to_array(text, '\s+'))), '[^a-z]', '', 'g') AS w
           FROM documents) u
         WHERE w <> '')"""

  /** Unrolled DuckDB oracle for [[graft.functions.TextAnalysis.bpeMerges]]:
    * k chained (pair-count → argmax → greedy merge) rounds. Greedy
    * left-to-right non-overlapping merging is expressed with windows via
    * the islands-parity identity: overlapping matches only occur in runs
    * of a repeated symbol (pair a==b), and within each island of
    * consecutive match positions exactly the even offsets merge.
    */
  /** Unrolled DuckDB oracle for the BPE family. `mode`:
    *   - "merges": the k-row merge table (q_bpe_merges);
    *   - "encode": every vocabulary word segmented under the learned
    *     table (q_bpe_encode);
    *   - "docs":   every DOCUMENT as its token-id sequence — piece ids
    *     recomputed exactly as the engine derives them, from the 26
    *     letters ∪ the k merge outputs, sorted, 1-based (q_bpe_tokenize);
    *   - "pack":   packByOffset over the docs-mode n_pieces counts
    *     (q_pack_bpe; budget must match the query).
    */
  private def bpeOracleSql(k: Int, mode: String = "merges"): String = {
    val rounds = (1 to k).map { i =>
      val prev = s"state${i - 1}"
      s"""p$i AS (SELECT syms[j] || ' ' || syms[j + 1] AS pair, sum(n)::BIGINT AS cnt
          FROM (SELECT n, syms, unnest(range(1, len(syms))) AS j FROM $prev) u
          GROUP BY 1),
         m$i AS (SELECT pair, cnt, split_part(pair, ' ', 1) AS a, split_part(pair, ' ', 2) AS b
                 FROM p$i ORDER BY cnt DESC, pair LIMIT 1),
         x$i AS (SELECT w, n, j, syms[j] AS s, syms[j + 1] AS nxt
                 FROM (SELECT w, n, syms, unnest(range(1, len(syms) + 1)) AS j FROM $prev) u),
         y$i AS (SELECT w, n, j, s, nxt,
                        CASE WHEN s = (SELECT a FROM m$i) AND nxt = (SELECT b FROM m$i)
                             THEN 1 ELSE 0 END AS mt
                 FROM x$i),
         z$i AS (SELECT *, CASE WHEN mt = 1
                                THEN j - row_number() OVER (PARTITION BY w, mt ORDER BY j) END AS isl
                 FROM y$i),
         g$i AS (SELECT w, n, j, s, nxt,
                        CASE WHEN mt = 1 AND (row_number() OVER (PARTITION BY w, isl ORDER BY j) % 2) = 1
                             THEN 1 ELSE 0 END AS dm
                 FROM z$i),
         h$i AS (SELECT *, coalesce(lag(dm) OVER (PARTITION BY w ORDER BY j), 0) AS pm FROM g$i),
         state$i AS (SELECT w, min(n) AS n,
                            list(CASE WHEN dm = 1 THEN s || nxt ELSE s END ORDER BY j) AS syms
                     FROM h$i WHERE pm = 0 GROUP BY w)"""
    }.mkString(",\n")
    // docs/pack modes: piece→id table from letters ∪ merge outputs (the
    // engine derives the identical table driver-side from the merge Seq),
    // each vocabulary word → its id list, then the positional token
    // stream flattens per document
    val mergeOuts = (1 to k).map(i => s"SELECT a || b AS piece FROM m$i").mkString(" UNION ")
    val docCtes =
      s"""pv AS (SELECT piece, row_number() OVER (ORDER BY piece) AS tid FROM (
               SELECT unnest(regexp_split_to_array('abcdefghijklmnopqrstuvwxyz', '')) AS piece
               UNION $mergeOuts) q),
          wexp AS (SELECT w, j, syms[j] AS piece
                   FROM (SELECT w, syms, unnest(range(1, len(syms) + 1)) AS j FROM state$k) u),
          wids AS (SELECT w, list(tid ORDER BY j) AS ids
                   FROM wexp JOIN pv USING (piece) GROUP BY w),
          dt AS (SELECT doc_id, j AS pos, toks[j] AS w
                 FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS j
                       FROM toks_arr) u),
          flat AS (SELECT doc_id, pos, i, ids[i] AS tid
                   FROM (SELECT doc_id, pos, ids, unnest(range(1, len(ids) + 1)) AS i
                         FROM dt JOIN wids USING (w)) u),
          enc AS (SELECT doc_id, count(DISTINCT pos) AS n_words, count(*) AS n_pieces,
                         string_agg(tid::VARCHAR, ' ' ORDER BY pos, i) AS ids_str
                  FROM flat GROUP BY doc_id)"""
    val finalSelect = mode match {
      case "encode" =>
        s"""SELECT w AS word, array_to_string(syms, ' ') AS pieces_str,
                   len(syms) AS n_pieces
            FROM state$k ORDER BY word"""
      case "merges" =>
        val union = (1 to k)
          .map(i => s"SELECT $i AS iter, pair, cnt FROM m$i")
          .mkString(" UNION ALL ")
        s"SELECT iter, pair, cnt FROM ($union) ORDER BY iter"
      case "docs" =>
        s"""$docCtes
            SELECT d.doc_id, coalesce(e.ids_str, '') AS ids_str,
                   coalesce(e.n_words, 0)::BIGINT AS n_words,
                   coalesce(e.n_pieces, 0)::BIGINT AS n_pieces
            FROM documents d LEFT JOIN enc e USING (doc_id)
            ORDER BY d.doc_id"""
      case "pack" =>
        s"""$docCtes,
            cnt AS (SELECT d.doc_id, d.lang, coalesce(e.n_pieces, 0)::BIGINT AS n_tok
                    FROM documents d LEFT JOIN enc e USING (doc_id))
            SELECT doc_id, lang, n_tok, floor(start_off / 8192)::BIGINT AS pack_id FROM (
              SELECT doc_id, lang, n_tok,
                     sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id) - n_tok AS start_off
              FROM cnt) u
            ORDER BY doc_id"""
      case "fertility" =>
        s"""$docCtes,
            f AS (SELECT d.lang, coalesce(e.n_words, 0)::BIGINT AS nw,
                         coalesce(e.n_pieces, 0)::BIGINT AS np
                  FROM documents d LEFT JOIN enc e USING (doc_id))
            SELECT lang, sum(nw)::BIGINT AS tot_words, sum(np)::BIGINT AS tot_pieces,
                   floor((sum(np)::DOUBLE / sum(nw)::DOUBLE) * 1e4 + 0.5) / 1e4 AS fertility_r
            FROM f GROUP BY lang ORDER BY lang"""
    }
    val docMode     = mode == "docs" || mode == "pack" || mode == "fertility"
    val maybeDocSrc = if (docMode) s"$ToksArrCte," else ""
    val maybeComma  = if (docMode) "," else ""
    s"""WITH $TokCte, $maybeDocSrc
        vocab AS (SELECT word AS w, count(*) AS n FROM tok GROUP BY 1),
        state0 AS (SELECT w, n, regexp_split_to_array(w, '') AS syms FROM vocab),
        $rounds$maybeComma
        $finalSelect"""
  }

  /** Unrolled DuckDB oracle for [[graft.functions.TextAnalysis.wordpieceMerges]]:
    * k chained (symbol-count → pair-count → likelihood argmax → greedy merge)
    * rounds over the ##-marked symbolization. The greedy-merge islands
    * machinery is bpeOracleSql's verbatim; the argmax ranks by
    * cnt/(cnt(a)·cnt(b)) — one IEEE division of identical integers, so the
    * ordering replays exactly — and the merged symbol strips the second
    * element's ## marker (the first element's marker survives).
    */
  private def wordpieceOracleSql(k: Int): String = {
    val rounds = (1 to k).map { i =>
      val prev = s"state${i - 1}"
      s"""c$i AS (SELECT s, sum(n)::BIGINT AS cs
          FROM (SELECT n, unnest(syms) AS s FROM $prev) u GROUP BY 1),
         p$i AS (SELECT syms[j] AS a, syms[j + 1] AS b, sum(n)::BIGINT AS cnt
                 FROM (SELECT n, syms, unnest(range(1, len(syms))) AS j FROM $prev) u
                 GROUP BY 1, 2),
         m$i AS (SELECT a, b, cnt, ca.cs AS ca, cb.cs AS cb
                 FROM p$i JOIN c$i ca ON ca.s = p$i.a JOIN c$i cb ON cb.s = p$i.b
                 ORDER BY cnt::DOUBLE / (ca.cs::DOUBLE * cb.cs::DOUBLE) DESC, a, b LIMIT 1),
         x$i AS (SELECT w, n, j, syms[j] AS s, syms[j + 1] AS nxt
                 FROM (SELECT w, n, syms, unnest(range(1, len(syms) + 1)) AS j FROM $prev) u),
         y$i AS (SELECT w, n, j, s, nxt,
                        CASE WHEN s = (SELECT a FROM m$i) AND nxt = (SELECT b FROM m$i)
                             THEN 1 ELSE 0 END AS mt
                 FROM x$i),
         z$i AS (SELECT *, CASE WHEN mt = 1
                                THEN j - row_number() OVER (PARTITION BY w, mt ORDER BY j) END AS isl
                 FROM y$i),
         g$i AS (SELECT w, n, j, s, nxt,
                        CASE WHEN mt = 1 AND (row_number() OVER (PARTITION BY w, isl ORDER BY j) % 2) = 1
                             THEN 1 ELSE 0 END AS dm
                 FROM z$i),
         h$i AS (SELECT *, coalesce(lag(dm) OVER (PARTITION BY w ORDER BY j), 0) AS pm FROM g$i),
         state$i AS (SELECT w, min(n) AS n,
                            list(CASE WHEN dm = 1
                                      THEN s || (CASE WHEN nxt LIKE '##%' THEN substr(nxt, 3) ELSE nxt END)
                                      ELSE s END ORDER BY j) AS syms
                     FROM h$i WHERE pm = 0 GROUP BY w)"""
    }.mkString(",\n")
    val union = (1 to k)
      .map(i => s"SELECT $i AS iter, a || ' ' || b AS pair, cnt, ca, cb FROM m$i")
      .mkString(" UNION ALL ")
    s"""WITH $TokCte,
        vocab AS (SELECT word AS w, count(*) AS n FROM tok GROUP BY 1),
        state0 AS (
          SELECT w, n,
                 list_transform(range(1, len(cs) + 1),
                   j -> CASE WHEN j = 1 THEN cs[j] ELSE '##' || cs[j] END) AS syms
          FROM (SELECT w, n, regexp_split_to_array(w, '') AS cs FROM vocab) v0),
        $rounds
        SELECT iter, pair, cnt, ca, cb FROM ($union) ORDER BY iter"""
  }

  /** Unrolled DuckDB oracle for [[graft.functions.TextAnalysis.logregTrain]]:
    * k chained (margin → quantized σ error → integer gradient → quantized
    * update) rounds. Weights are micro ints end to end; the single float op
    * per round (exp on the identical micro·1e-6 double) is immediately
    * re-quantized, mirroring the Spark side expression for expression.
    */
  private def logregOracleSql(rounds: Int, buckets: Int, lr: String): String = {
    val rs = (1 to rounds).map { i =>
      val (pw, pb) = (s"w${i - 1}", s"b${i - 1}")
      s"""mr$i AS (
            SELECT l.doc_id, l.y,
                   (SELECT bias FROM $pb) + coalesce(sum(f.cnt * coalesce(w.wm, 0)), 0)::BIGINT AS mm
            FROM lab l LEFT JOIN feats f USING (doc_id) LEFT JOIN $pw w ON w.b = f.b
            GROUP BY 1, 2),
          e$i AS (
            SELECT doc_id,
                   floor(1.0 / (1.0 + exp(mm::DOUBLE * -1e-6)) * 1e6 + 0.5)::BIGINT
                     - y * 1000000 AS err
            FROM mr$i),
          g$i AS (SELECT f.b, sum(f.cnt * e.err)::BIGINT AS gb
                  FROM feats f JOIN e$i e USING (doc_id) GROUP BY 1),
          w$i AS (SELECT g.b, coalesce(w.wm, 0) - floor($lr * gb::DOUBLE / (SELECT nd FROM nn) + 0.5)::BIGINT AS wm
                  FROM g$i g LEFT JOIN $pw w ON w.b = g.b),
          b$i AS (SELECT (SELECT bias FROM $pb)
                         - floor($lr * (SELECT sum(err) FROM e$i)::DOUBLE / (SELECT nd FROM nn) + 0.5)::BIGINT AS bias)"""
    }.mkString(",\n")
    val union = (1 to rounds).map { i =>
      s"SELECT $i AS iter, b AS bucket, wm AS w_micro FROM w$i UNION ALL SELECT $i, -1, bias FROM b$i"
    }.mkString(" UNION ALL ")
    s"""WITH $TokCte,
        fb AS (SELECT doc_id,
                      ('0x' || substr(md5('lrq:' || word), 1, 15))::BIGINT % $buckets AS b
               FROM tok),
        feats AS (SELECT doc_id, b, count(*) AS cnt FROM fb GROUP BY 1, 2),
        lab AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM documents),
        nn AS (SELECT count(*)::BIGINT AS nd FROM documents),
        w0 AS (SELECT CAST(NULL AS BIGINT) AS b, CAST(NULL AS BIGINT) AS wm WHERE 1 = 0),
        b0 AS (SELECT 0::BIGINT AS bias),
        $rs
        SELECT iter, bucket, w_micro FROM ($union) ORDER BY iter, bucket"""
  }

  /** DuckDB mirror of TextAnalysis.importanceWeights (+ the Gumbel top-k
    * selection when `select`): hashed unigram+bigram features, add-one
    * smoothed bucket log ratios vs the lang='en' target, per-doc sums.
    */
  private def DsirWeightsSql(select: Boolean): String = {
    val core =
      s"""WITH $ToksArrCte,
          f AS (
            SELECT doc_id,
                   unnest(list_concat(toks,
                     CASE WHEN len(toks) >= 2
                          THEN list_transform(range(1, len(toks)),
                                              i -> toks[i] || ' ' || toks[i + 1])
                          ELSE []::VARCHAR[] END)) AS f
            FROM toks_arr),
          fb AS (
            SELECT doc_id,
                   ('0x' || substr(md5('dsir:' || f), 1, 15))::BIGINT % 256 AS b
            FROM f),
          raw AS (SELECT b, count(*) AS nr FROM fb GROUP BY 1),
          tgt AS (SELECT b, count(*) AS nt
                  FROM fb JOIN documents USING (doc_id)
                  WHERE lang = 'en' GROUP BY 1),
          tot AS (SELECT (SELECT sum(nr) FROM raw) AS tnr,
                         (SELECT coalesce(sum(nt), 0) FROM tgt) AS tnt),
          lr AS (SELECT raw.b,
                        ln((coalesce(nt, 0) + 1)::DOUBLE / (tnt + 256)::DOUBLE)
                        - ln((nr + 1)::DOUBLE / (tnr + 256)::DOUBLE) AS llr
                 FROM raw LEFT JOIN tgt USING (b) CROSS JOIN tot),
          sc AS (SELECT fb.doc_id, count(*) AS n_feats, sum(llr) AS logw
                 FROM fb JOIN lr USING (b) GROUP BY 1),
          w AS (SELECT d.doc_id,
                       coalesce(n_feats, 0) AS n_feats,
                       floor(coalesce(logw, 0.0) * 1e4 + 0.5) / 1e4 AS logw_r
                FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id)"""
    if (!select) core + "\n          SELECT doc_id, n_feats, logw_r FROM w ORDER BY doc_id"
    else core +
      """,
          g AS (
            SELECT doc_id, n_feats, logw_r,
                   floor((logw_r - ln(-ln(
                     (('0x' || substr(md5('dsirsel:' || doc_id::VARCHAR), 1, 13))::BIGINT::DOUBLE + 0.5)
                     / 4503599627370496.0))) * 1e9 + 0.5) / 1e9 AS gk
            FROM w),
          top AS (SELECT * FROM g ORDER BY gk DESC, doc_id LIMIT 100)
          SELECT doc_id, n_feats, logw_r, gk FROM top ORDER BY doc_id"""
  }

  /** Shared DuckDB CTE: cleaned token array per document (order-preserving). */
  private val ToksArrCte =
    """toks_arr AS (
         SELECT doc_id, lang,
                list_filter(
                  list_transform(regexp_split_to_array(text, '\s+'),
                                 x -> regexp_replace(lower(x), '[^a-z]', '', 'g')),
                  w -> w <> '') AS toks,
                len(regexp_split_to_array(text, '\s+')) AS n_ws
         FROM documents)"""

  // ------------------------------------------------------------- oracle SQL

  /** The roundtrip legs are lossless, so each leg's oracle is the DIRECT
    * parquet read with the fmt literal attached: the roundtrip through each
    * format must preserve exactly what a direct read of the source table
    * aggregates to. ::BIGINT casts on every integer sum are LOAD-BEARING:
    * DuckDB sum(BIGINT) is HUGEINT, which the driver's comparator hashes
    * differently from int64 — this exact omission was r11's only hash-red
    * row. */
  private def formatRoundtripOracle(fmt: String): String =
    s"""SELECT '$fmt' AS fmt, lang, count(*) AS n_docs,
          sum(n_chars)::BIGINT AS sum_chars,
          sum(length(text))::BIGINT AS sum_text_len,
          sum(('0x' || substr(md5(text), 1, 8))::BIGINT)::BIGINT AS sum_text_md5
        FROM documents GROUP BY lang ORDER BY lang"""

  /** Unrolled-round mirror of Similarity.powerIteration over embeddings:
    * the per-round 6-dp quantization makes each round's input exact, so
    * the only float drift is inside one round's sums — absorbed by the
    * quantization (the kmeans-oracle discipline).
    */
  private def PcaPowerSql(d: Int, rounds: Int): String = {
    val roundCtes = (1 to rounds).map { r =>
      val prev = if (r == 1) "v0" else s"v${r - 1}"
      s"""d$r AS MATERIALIZED (SELECT e.vec_id,
                       list_sum(list_transform(range(1, ${d + 1}), k -> e.x[k] * vl$r.v[k])) AS dot
                FROM e CROSS JOIN (SELECT list(v ORDER BY pos) AS v FROM $prev) vl$r),
         w$r AS MATERIALIZED (SELECT p.pos, sum(e.x[p.pos] * dd.dot) AS w
                FROM e JOIN d$r dd USING (vec_id) CROSS JOIN p GROUP BY p.pos),
         n$r AS (SELECT sqrt(sum(w * w)) AS nw FROM w$r),
         v$r AS MATERIALIZED (SELECT pos, floor(w / nw * 1e6 + 0.5) / 1e6 AS v FROM w$r CROSS JOIN n$r)"""
    }.mkString(",\n         ")
    s"""WITH e AS MATERIALIZED (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS x FROM embeddings),
         p AS (SELECT unnest(range(1, ${d + 1})) AS pos),
         v0 AS (SELECT pos,
                       ((('0x' || substr(md5('pca:' || (pos - 1)::VARCHAR), 1, 15))::BIGINT % 1000 + 1)
                        / 1000.0) AS v
                FROM p),
         $roundCtes,
         pn AS (SELECT sqrt(sum(v * v)) AS nv FROM v${rounds - 1}),
         lam AS (SELECT nw / nv AS lambda FROM n$rounds CROSS JOIN pn),
         tot AS (SELECT sum(list_sum(list_transform(range(1, ${d + 1}), k -> x[k] * x[k]))) AS total
                 FROM e)
         SELECT $d AS dims, $rounds AS n_rounds,
                floor(lambda * 1e4 + 0.5) / 1e4 AS eig_r,
                floor(lambda / total * 1e6 + 0.5) / 1e6 AS evr_r,
                (SELECT string_agg(floor(v * 1e6 + 0.5)::BIGINT::VARCHAR, ' ' ORDER BY pos)
                 FROM v$rounds) AS vec_q
         FROM lam CROSS JOIN tot"""
  }

  /** Unrolled mirror of Similarity.powerIterationTop: per component, the
    * same quantized round CTEs as PcaPowerSql (salt pca<c>), then a
    * deflation CTE (x − (x·v)v with the quantized v — bit-identical
    * cross-engine because the per-row dot is the same left fold) feeding
    * the next component's rounds.
    */
  private def PcaTopSql(d: Int, rounds: Int, components: Int): String = {
    def v0(c: Int) =
      s"""q${c}v0 AS (SELECT pos,
                 ((('0x' || substr(md5('pca$c:' || (pos - 1)::VARCHAR), 1, 15))::BIGINT % 1000 + 1)
                  / 1000.0) AS v
          FROM p)"""
    def roundCtes(c: Int, src: String) = (1 to rounds).map { r =>
      val prev = if (r == 1) s"q${c}v0" else s"q${c}v${r - 1}"
      s"""q${c}d$r AS MATERIALIZED (SELECT e.vec_id,
                  list_sum(list_transform(range(1, ${d + 1}), k -> e.x[k] * vl.v[k])) AS dot
           FROM $src e CROSS JOIN (SELECT list(v ORDER BY pos) AS v FROM $prev) vl),
         q${c}w$r AS MATERIALIZED (SELECT p.pos, sum(e.x[p.pos] * dd.dot) AS w
           FROM $src e JOIN q${c}d$r dd USING (vec_id) CROSS JOIN p GROUP BY p.pos),
         q${c}n$r AS (SELECT sqrt(sum(w * w)) AS nw FROM q${c}w$r),
         q${c}v$r AS MATERIALIZED (SELECT pos, floor(w / nw * 1e6 + 0.5) / 1e6 AS v FROM q${c}w$r CROSS JOIN q${c}n$r)"""
    }.mkString(",\n         ")
    // deflCte(name, src, vFrom): name = src − (src·v)v with v = vFrom's
    // final quantized vector
    def deflCte(name: String, src: String, vFrom: String) =
      s"""$name AS MATERIALIZED (SELECT z.vec_id,
                list_transform(range(1, ${d + 1}), i -> z.x[i] - z.dot * vl.v[i]) AS x
         FROM (SELECT e.vec_id, e.x,
                      list_sum(list_transform(range(1, ${d + 1}), k -> e.x[k] * vf.v[k])) AS dot
               FROM $src e CROSS JOIN (SELECT list(v ORDER BY pos) AS v FROM $vFrom) vf) z
              CROSS JOIN (SELECT list(v ORDER BY pos) AS v FROM $vFrom) vl)"""
    val ctes = new scala.collection.mutable.ArrayBuffer[String]
    for (c <- 1 to components) {
      // component c reads e{c-1}; e{c-1} (for c > 1) is e{c-2} deflated by
      // component (c-1)'s final vector
      if (c > 1) ctes += deflCte(s"e${c - 1}", s"e${c - 2}", s"q${c - 1}v$rounds")
      ctes += v0(c)
      ctes += roundCtes(c, s"e${c - 1}")
    }
    val lamSel = (1 to components).map { c =>
      s"""SELECT $c AS component, $d AS dims, $rounds AS n_rounds,
                floor((n$c.nw / pn$c.nv) * 1e4 + 0.5) / 1e4 AS eig_r,
                floor(((n$c.nw / pn$c.nv) / tot.total) * 1e6 + 0.5) / 1e6 AS evr_r,
                (SELECT string_agg(floor(v * 1e6 + 0.5)::BIGINT::VARCHAR, ' ' ORDER BY pos)
                 FROM q${c}v$rounds) AS vec_q
         FROM (SELECT nw FROM q${c}n$rounds) n$c
         CROSS JOIN (SELECT sqrt(sum(v * v)) AS nv FROM q${c}v${rounds - 1}) pn$c
         CROSS JOIN tot"""
    }.mkString("\nUNION ALL\n")
    s"""WITH e0 AS MATERIALIZED (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS x FROM embeddings),
         p AS (SELECT unnest(range(1, ${d + 1})) AS pos),
         tot AS (SELECT sum(list_sum(list_transform(range(1, ${d + 1}), k -> x[k] * x[k]))) AS total
                 FROM e0),
         ${ctes.mkString(",\n         ")}
         $lamSel
         ORDER BY component"""
  }

  /** CTE-chain mirror of Layout.hilbertKey over orders: per-level
    * expressions come from the SAME Layout.hilbertStepSql generator the
    * Spark side applies, so the walks cannot drift.
    */
  private lazy val HilbertLayoutSql: String = {
    val bits = 10
    val levels = ((bits - 1) to 0 by -1).zipWithIndex
    val ctes = levels.map { case (lvl, i) =>
      val prev = if (i == 0) "h0" else s"hl${i - 1}"
      val (px, py, pd) = (s"hx$i", s"hy$i", s"hd$i")
      val (nx, ny, nd) = graft.operators.Layout.hilbertStepSql(
        bits, lvl,
        if (i == 0) "hx" else s"hx${i - 1}",
        if (i == 0) "hy" else s"hy${i - 1}",
        if (i == 0) "hd" else s"hd${i - 1}")
      s"hl$i AS (SELECT o_orderkey, zx, zy, $nx AS $px, $ny AS $py, $nd AS $pd FROM $prev)"
    }
    s"""WITH b AS (SELECT o_orderkey,
                          least(floor(o_custkey / 2.0)::BIGINT, 1023) AS zx,
                          least(floor(o_totalprice / 600.0)::BIGINT, 1023) AS zy
                   FROM orders),
          h0 AS (SELECT o_orderkey, zx, zy, zx AS hx, zy AS hy, 0 AS hd FROM b),
          ${ctes.mkString(",\n          ")}
          SELECT o_orderkey, zx, zy, hd${levels.size - 1}::BIGINT AS hkey
          FROM hl${levels.size - 1} ORDER BY hkey, o_orderkey LIMIT 500"""
  }

  /** Numeric lineitem columns for q_corr_matrix — one list drives BOTH the
    * Spark aggregation and the generated oracle SQL.
    */
  private val CorrCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  private lazy val CorrMatrixSql: String = {
    val pairs = for { i <- CorrCols.indices; j <- CorrCols.indices if i < j }
      yield (CorrCols(i), CorrCols(j))
    pairs
      .map { case (a, b) =>
        s"SELECT '$a' AS col_a, '$b' AS col_b, " +
          graft.functions.Portable.proundSql(s"corr($a::DOUBLE, $b::DOUBLE)", 6) +
          " AS corr_r FROM lineitem"
      }
      .mkString("", "\nUNION ALL\n", "\nORDER BY col_a, col_b")
  }

  /** Shared DuckDB CTE for the synthesized CDC changelog (mirrors
    * SparkEntry.cdcChangelog; q_cdc_apply predates the factoring and keeps
    * its inline copy).
    */
  private lazy val CdcChangelogCte: String =
    """base AS (
           SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, 0 AS seq, 'I' AS op FROM orders),
         ch AS (
           SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, 1 AS seq, 'D' AS op
           FROM orders WHERE o_orderkey % 10 = 0
           UNION ALL
           SELECT o_orderkey, o_custkey, 'U1', o_totalprice + 100, 1, 'U'
           FROM orders WHERE o_orderkey % 10 = 1
           UNION ALL
           SELECT o_orderkey, o_custkey, 'U2', o_totalprice + 200, 2, 'U'
           FROM orders WHERE o_orderkey % 10 = 1
           UNION ALL
           SELECT o_orderkey + 10000000, o_custkey, 'N', 1.0, 1, 'I'
           FROM orders WHERE o_orderkey % 100 = 7),
         u AS (SELECT * FROM base UNION ALL SELECT * FROM ch)"""

  /** Generated 26-letter mirror of TextAnalysis.charEntropy: counts via
    * length-difference, −p·ln p terms summed in the IDENTICAL literal
    * a→z order (left-associated), so the doubles match bit-for-bit.
    */
  private lazy val CharEntropySql: String = {
    val letters = ('a' to 'z').toSeq
    val countDefs = letters
      .map(c => s"(len(lt) - len(replace(lt, '$c', '')))::DOUBLE AS c_$c")
      .mkString(", ")
    val nSum  = letters.map(c => s"c_$c").mkString(" + ")
    val terms = letters
      .map(c => s"(CASE WHEN c_$c > 0 THEN -(c_$c / n) * ln(c_$c / n) ELSE 0.0 END)")
      .mkString(" + ")
    s"""WITH l AS (SELECT doc_id, lower(text) AS lt FROM documents),
        c AS (SELECT doc_id, $countDefs FROM l),
        e AS (SELECT *, $nSum AS n FROM c)
        SELECT doc_id,
               CASE WHEN n = 0 THEN 0.0
                    ELSE floor(($terms) * 1e6 + 0.5) / 1e6 END AS entropy
        FROM e ORDER BY doc_id"""
  }

  /** PII patterns, shared verbatim with CorpusClean — DuckDB standard
    * string literals keep backslashes literal, so the Java pattern string
    * drops in unchanged (it is RE2-safe by construction).
    */
  private val PiiEmailRe = graft.operators.CorpusClean.EmailRe
  private val PiiPhoneRe = graft.operators.CorpusClean.PhoneRe
  private val PiiIpRe    = graft.operators.CorpusClean.Ipv4Re

  /** Shared DuckDB CTE chain `dh(media_id, dhash_hi, dhash_lo)`: the
    * 64-bit dHash replayed from the image-synthesis formulas through the
    * integer-exact 9×8 grid / BT.601 gray / gradient-bit pipeline
    * (mirror of Multimodal.imageDHash over demoMediaFromDocuments).
    */
  private val ImageDhashCtes =
    """img AS (
         SELECT doc_id, 1 + doc_id % 64 AS w,
                1 + octet_length(encode(text)) % 64 AS h
         FROM documents WHERE doc_id % 3 = 0),
       g AS (
         SELECT doc_id, j, i,
                ((least(w - 1, (i * w) // 9) * 31
                  + least(h - 1, (j * h) // 8) * 17 + doc_id) % 16777216) AS v
         FROM img
         CROSS JOIN (SELECT unnest(range(9)) AS i)
         CROSS JOIN (SELECT unnest(range(8)) AS j)),
       gr AS (
         SELECT doc_id, j, i,
                (299 * ((v // 65536) % 256) + 587 * ((v // 256) % 256)
                 + 114 * (v % 256)) // 1000 AS gray
         FROM g),
       b AS (
         SELECT doc_id, j, i, gray,
                lead(gray) OVER (PARTITION BY doc_id, j ORDER BY i) AS nxt
         FROM gr),
       dh AS (
         SELECT doc_id AS media_id,
                sum(CASE WHEN i < 8 AND j >= 4 AND nxt > gray
                         THEN (1::BIGINT << (j * 8 + i - 32)) ELSE 0 END)::BIGINT AS dhash_hi,
                sum(CASE WHEN i < 8 AND j < 4 AND nxt > gray
                         THEN (1::BIGINT << (j * 8 + i)) ELSE 0 END)::BIGINT AS dhash_lo
         FROM b GROUP BY 1)"""

  /** DuckDB mirror of SparkEntry.htmlTagged — the same synthesis formula,
    * single-quote-escaped for a SQL literal.
    */
  private val HtmlTaggedSql =
    """'<html><head><style>p{color:#' || lpad((doc_id % 1000)::VARCHAR, 3, '0') ||
       '}</style><script>var x=' || (doc_id % 97)::VARCHAR ||
       ';</script></head><body><!-- id ' || doc_id::VARCHAR ||
       ' --><h1 class="t">Doc &#39;' || doc_id::VARCHAR ||
       '&#39;</h1><p>' || replace(text, ' the ', ' &amp;the&nbsp;') ||
       '</p><div id=''f''>end &lt;eof&gt;</div></body></html>'"""

  /** DuckDB mirror of CorpusClean.stripMarkup over SQL expression `e`:
    * same patterns (shared constants), same load-bearing order — blocks,
    * comments, tags→space, named entities, numeric entities, `&amp;`
    * LAST, whitespace collapse.
    */
  private def stripMarkupSql(e: String): String = {
    import graft.operators.CorpusClean.{ScriptRe, StyleRe, CommentRe, TagRe, NumEntRe}
    s"""trim(regexp_replace(
          replace(
            regexp_replace(
              replace(replace(replace(replace(replace(replace(
                regexp_replace(
                  regexp_replace(regexp_replace(regexp_replace($e,
                    '$ScriptRe', ' ', 'g'),
                    '$StyleRe', ' ', 'g'),
                    '$CommentRe', ' ', 'g'),
                  '$TagRe', ' ', 'g'),
                '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
                '&quot;', '"'), '&#39;', ''''), '&apos;', ''''),
              '$NumEntRe', ' ', 'g'),
            '&amp;', '&'),
          '\\s+', ' ', 'g'))"""
  }

  /** The curation-chain mirror (q_curate_pipeline, q_curate_html) over any
    * `src` producing (doc_id, lang, source, text).
    */
  private def curateSql(srcSql: String): String =
    s"""WITH src AS ($srcSql),
        red AS (
          SELECT doc_id, lang, source,
                 regexp_replace(regexp_replace(regexp_replace(text,
                   '$PiiEmailRe', '<EMAIL>', 'g'),
                   '$PiiPhoneRe', '<PHONE>', 'g'),
                   '$PiiIpRe', '<IP>', 'g') AS rtext
          FROM src),
        g AS (SELECT doc_id, lang, source, rtext,
                     len(regexp_split_to_array(rtext, '\\s+')) AS n_ws,
                     len(list_filter(
                           list_transform(regexp_split_to_array(rtext, '\\s+'),
                                          x -> regexp_replace(lower(x), '[^a-z]', '', 'g')),
                           w -> w <> '')) AS n_alpha
              FROM red),
        f AS (SELECT doc_id, lang, source, rtext FROM g
              WHERE n_ws >= 5 AND n_ws <= 2000 AND n_alpha::DOUBLE >= n_ws::DOUBLE * 0.5),
        d AS (SELECT doc_id, lang, source FROM f
              QUALIFY row_number() OVER (PARTITION BY rtext ORDER BY doc_id) = 1),
        c AS (SELECT source, doc_id FROM (
                SELECT source, doc_id,
                       ('0x' || substr(md5('cap:' || doc_id::VARCHAR), 1, 13))::BIGINT AS rk
                FROM d) r
              QUALIFY row_number() OVER (PARTITION BY source ORDER BY rk, doc_id) <= 20)
        SELECT c.doc_id, d.lang, c.source
        FROM c JOIN d ON d.doc_id = c.doc_id ORDER BY c.doc_id"""

  /** DuckDB CTE `e(src, dst)`: the symmetrized customer–supplier graph
    * (mirror of Graph.customerSupplierEdges — UNION dedupes).
    */
  private val GraphEdgesCte =
    """e0 AS (SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
              FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       e AS (SELECT src, dst FROM e0 UNION SELECT dst AS src, src AS dst FROM e0)"""

  /** Unrolled fixed-iteration PageRank (mirror of Graph.pagerank). */
  /** The ADC-search mirror shared by q_ann_ivfpq_search and
    * q_ann_ivfpq_indexed (identical semantics; the indexed form only
    * changes WHERE the encoded relation comes from).
    */
  private val IvfpqAdcSql: String =
      """WITH e AS (
           SELECT vec_id, embedding,
                  sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
                       i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))) AS nrm
           FROM embeddings),
         c AS (SELECT vec_id AS c_id, embedding AS cv, nrm AS cn FROM e WHERE vec_id < 8),
         q AS (SELECT vec_id AS q_id, embedding AS qv, nrm AS qn FROM e WHERE vec_id >= 8 AND vec_id <= 17),
         corp AS (SELECT vec_id, embedding AS ev, nrm AS en FROM e WHERE vec_id >= 18),
         sp AS (SELECT unnest(range(0, 4)) AS sub),
         cb AS (SELECT sub, c_id AS code_id, list_slice(cv, sub * 16 + 1, sub * 16 + 16) AS cw
                FROM c CROSS JOIN sp),
         ac AS (
           SELECT corp.vec_id, c_id,
                  list_sum(list_transform(range(1, len(ev) + 1),
                       i -> ev[i]::DOUBLE * cv[i]::DOUBLE)) / (en * cn) AS cos
           FROM corp CROSS JOIN c),
         asg AS (
           SELECT vec_id, cell FROM (
             SELECT vec_id, c_id AS cell,
                    row_number() OVER (PARTITION BY vec_id ORDER BY floor((cos) * 1e6 + 0.5) / 1e6 DESC, c_id) AS rn
             FROM ac) r
           WHERE rn = 1),
         sv AS (SELECT vec_id, sub, list_slice(ev, sub * 16 + 1, sub * 16 + 16) AS sv
                FROM corp CROSS JOIN sp),
         d AS (SELECT sv.vec_id, sv.sub, cb.code_id,
                      list_sum(list_transform(range(1, 17), i -> sv.sv[i]::DOUBLE * sv.sv[i]::DOUBLE))
                      - 2.0 * list_sum(list_transform(range(1, 17), i -> sv.sv[i]::DOUBLE * cb.cw[i]::DOUBLE))
                      + list_sum(list_transform(range(1, 17), i -> cb.cw[i]::DOUBLE * cb.cw[i]::DOUBLE)) AS dist
               FROM sv JOIN cb ON cb.sub = sv.sub),
         enc AS (SELECT vec_id, sub, code_id AS code FROM (
                   SELECT vec_id, sub, code_id,
                          row_number() OVER (PARTITION BY vec_id, sub
                                             ORDER BY floor((dist) * 1e6 + 0.5) / 1e6, code_id) AS rn
                   FROM d) r
                 WHERE rn = 1),
         qsv AS (SELECT q_id, sub, list_slice(qv, sub * 16 + 1, sub * 16 + 16) AS qs
                 FROM q CROSS JOIN sp),
         dt AS (SELECT q_id, qsv.sub, cb.code_id AS code,
                       floor((list_sum(list_transform(range(1, 17), i -> qs[i]::DOUBLE * qs[i]::DOUBLE))
                              - 2.0 * list_sum(list_transform(range(1, 17), i -> qs[i]::DOUBLE * cb.cw[i]::DOUBLE))
                              + list_sum(list_transform(range(1, 17), i -> cb.cw[i]::DOUBLE * cb.cw[i]::DOUBLE)))
                             * 1e6 + 0.5)::BIGINT AS d_q
                FROM qsv JOIN cb ON cb.sub = qsv.sub),
         pc AS (
           SELECT q_id, c_id,
                  list_sum(list_transform(range(1, len(qv) + 1),
                       i -> qv[i]::DOUBLE * cv[i]::DOUBLE)) / (qn * cn) AS cos
           FROM q CROSS JOIN c),
         probe AS (
           SELECT q_id, cell FROM (
             SELECT q_id, c_id AS cell,
                    row_number() OVER (PARTITION BY q_id ORDER BY floor((cos) * 1e6 + 0.5) / 1e6 DESC, c_id) AS rn
             FROM pc) r
           WHERE rn <= 2),
         cand AS (
           SELECT p.q_id, a.vec_id, sum(dt.d_q)::BIGINT AS adc_q
           FROM probe p
           JOIN asg a ON a.cell = p.cell
           JOIN enc ON enc.vec_id = a.vec_id
           JOIN dt ON dt.q_id = p.q_id AND dt.sub = enc.sub AND dt.code = enc.code
           WHERE a.vec_id <> p.q_id
           GROUP BY p.q_id, a.vec_id)
         SELECT q_id, vec_id, rank, adc_q FROM (
           SELECT q_id, vec_id, adc_q,
                  row_number() OVER (PARTITION BY q_id ORDER BY adc_q, vec_id) AS rank
           FROM cand) r
         WHERE rank <= 5 ORDER BY q_id, rank"""

  /** Unrolled-CTE mirror of [[Similarity.kmeansIterate]]: per round, the
    * max-cosine assignment (cos₆ DESC, cell ASC — identical keys to the
    * Spark argmax) and the per-(cell, pos) quantized mean rebuilt into a
    * DOUBLE centroid list. Because every round's centroid components are
    * floor(avg·1e4+0.5)/1e4, the values feeding round r+1 are exactly
    * representable in both engines and the unroll stays bit-stable.
    */
  private def kmeansOracleSql(iters: Int): String = {
    val steps = (1 to iters).map { r =>
      s"""p$r AS (
           SELECT e.vec_id, cp.cell AS c_id,
                  list_sum(list_transform(range(1, len(e.embedding) + 1),
                       i -> e.embedding[i]::DOUBLE * cp.cv[i])) / (e.nrm * cp.cn) AS cos
           FROM e CROSS JOIN c${r - 1} cp),
         asg$r AS (
           SELECT vec_id, cell FROM (
             SELECT vec_id, c_id AS cell,
                    row_number() OVER (PARTITION BY vec_id ORDER BY floor((cos) * 1e6 + 0.5) / 1e6 DESC, c_id) AS rn
             FROM p$r) q
           WHERE rn = 1),
         comp$r AS (
           SELECT a.cell, e.vec_id,
                  unnest(range(1, len(e.embedding) + 1)) AS pos,
                  unnest(list_transform(e.embedding, x -> x::DOUBLE)) AS v
           FROM asg$r a JOIN e ON e.vec_id = a.vec_id),
         m$r AS (
           SELECT cell, pos, floor(avg(v) * 1e4 + 0.5) / 1e4 AS m,
                  count(DISTINCT vec_id) AS n
           FROM comp$r GROUP BY cell, pos),
         c$r AS (
           SELECT cell, cv, sqrt(list_sum(list_transform(cv, x -> x * x))) AS cn, n_members
           FROM (SELECT cell, list(m ORDER BY pos) AS cv, max(n) AS n_members
                 FROM m$r GROUP BY cell) b)"""
    }.mkString(",\n")
    s"""WITH e AS (
          SELECT vec_id, embedding,
                 sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
                      i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))) AS nrm
          FROM embeddings),
        c0 AS (SELECT vec_id AS cell, list_transform(embedding, x -> x::DOUBLE) AS cv, nrm AS cn
               FROM e WHERE vec_id < 8),
        $steps
        SELECT cell, n_members::BIGINT AS n_members,
               array_to_string(list_transform(cv, x -> floor(x * 1e4 + 0.5)::BIGINT), ' ') AS centroid_q
        FROM c$iters ORDER BY cell"""
  }

  /** Unrolled personalized PageRank (mirror of Graph.personalizedPagerank,
    * seeds = customers with custkey < 50).
    */
  private def pprSql(iters: Int, d: Double): String = {
    val steps = (1 to iters).map { k =>
      s"""pr$k AS (SELECT t.node, ((1.0 - $d) * tl.tele + $d * t.mass) AS pr
                   FROM (SELECT e.dst AS node, sum(p.pr / deg.degree) AS mass
                         FROM e JOIN pr${k - 1} p ON e.src = p.node
                                JOIN deg ON deg.node = e.src
                         GROUP BY e.dst) t JOIN tele tl ON tl.node = t.node)"""
    }.mkString(",\n")
    s"""WITH $GraphEdgesCte,
        deg AS (SELECT src AS node, count(*) AS degree FROM e GROUP BY src),
        seeds AS (SELECT DISTINCT 'c' || o_custkey AS node FROM orders WHERE o_custkey < 50),
        ns AS (SELECT count(*)::DOUBLE AS ns FROM seeds),
        tele AS (SELECT deg.node,
                        (CASE WHEN s.node IS NOT NULL THEN 1.0 ELSE 0.0 END) / ns.ns AS tele
                 FROM deg LEFT JOIN seeds s ON s.node = deg.node CROSS JOIN ns),
        pr0 AS (SELECT node, tele AS pr FROM tele),
        $steps
        SELECT node, floor((pr) * 1e6 + 0.5) / 1e6 AS ppr FROM pr$iters ORDER BY node"""
  }

  /** Benford oracle (mirror of Stats.benford on lineitem prices): digit
    * via integer string math, expected shares embedded as the IDENTICAL
    * Scala doubles, χ² from the rounded per-digit terms. Shares the
    * operator's two-decimal granularity contract — the digit comes from
    * the half-up CENTS rounding, so both engines misbin a sub-cent value
    * near a magnitude boundary IDENTICALLY (and Stats.benford's scaladoc
    * tells finer columns to rescale before calling).
    */
  private def benfordSql: String = {
    val exp = (1 to 9).map(d => math.log10(1.0 + 1.0 / d))
    val expVals = (1 to 9).map(d => s"($d, ${exp(d - 1)})").mkString(", ")
    s"""WITH d AS (SELECT substr((floor(abs(l_extendedprice) * 100 + 0.5)::BIGINT)::VARCHAR, 1, 1)::INT AS digit
                   FROM lineitem
                   WHERE l_extendedprice IS NOT NULL AND abs(l_extendedprice) >= 0.01),
        g AS (SELECT digit, count(*)::BIGINT AS n FROM d GROUP BY digit),
        t AS (SELECT sum(n) AS t FROM g),
        e AS (SELECT * FROM (VALUES $expVals) AS v(digit, expected)),
        m AS (SELECT g.digit, g.n,
                     floor((g.n::DOUBLE / t.t) * 1e6 + 0.5) / 1e6 AS share_r,
                     floor(e.expected * 1e6 + 0.5) / 1e6 AS expected_r, t.t
              FROM g JOIN e ON e.digit = g.digit CROSS JOIN t),
        w AS (SELECT digit, n, share_r, expected_r,
                     floor(((share_r - expected_r) * (share_r - expected_r)
                            / expected_r * t) * 1e6 + 0.5) / 1e6 AS term
              FROM m)
        SELECT digit, n, share_r, expected_r,
               (SELECT floor(sum(term) * 1e4 + 0.5) / 1e4 FROM w) AS chi2_r
        FROM w ORDER BY digit"""
  }

  /** One FD-check leg (mirror of Stats.fdCheck). */
  private def fdSql(tbl: String, lhs: String, rhs: String): String =
    s"""SELECT '$lhs -> $rhs' AS fd, count(*)::BIGINT AS n_groups,
               sum((d > 1)::INT)::BIGINT AS n_violating,
               (sum((d > 1)::INT) = 0)::INT AS holds
        FROM (SELECT $lhs, count(DISTINCT $rhs) AS d FROM $tbl GROUP BY 1) g"""

  /** Per-source KMV oracle (shared by q_ndv_per_source and
    * q_ndv_incremental — mergeability makes the incremental store equal
    * this full recomputation): deterministic bottom-16-by-md5 replay.
    */
  private def ndvPerSourceSql: String =
    """WITH tk AS (
         SELECT source,
                regexp_replace(lower(unnest(regexp_split_to_array(text, '\s+'))), '[^a-z]', '', 'g') AS w
         FROM documents),
       tok2 AS (SELECT source, w AS word FROM tk WHERE w <> ''),
       h AS (SELECT DISTINCT source, word,
                    ('0x' || substr(md5(word), 1, 15))::BIGINT AS h
             FROM tok2),
       b AS (SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM h),
       g AS (SELECT source, count(*) AS nd FROM h GROUP BY source),
       kth AS (SELECT source, max(h) AS kh FROM b WHERE rn <= 16 GROUP BY source)
       SELECT g.source,
              CASE WHEN g.nd < 16 THEN g.nd::DOUBLE
                   ELSE floor((15.0 / (kth.kh::DOUBLE / 1152921504606846976.0)) * 1e4 + 0.5) / 1e4
              END AS ndv_est,
              least(g.nd, 16) AS n_sample
       FROM g JOIN kth USING (source)
       ORDER BY source"""

  /** Deterministic-bootstrap oracle (mirror of Stats.bootstrapMeanCi):
    * identical Poisson(1) CDF breakpoints emitted as the SAME Scala
    * doubles, same md5 uniform, integer replica sums, disc quantiles.
    */
  private def bootstrapSql: String = {
    val cdf = (0 to 8).map { k =>
      (0 to k).map { i =>
        var f = 1.0; (1 to i).foreach(f *= _); 1.0 / f
      }.sum * math.exp(-1.0)
    }
    val cases = cdf.zipWithIndex.map { case (c, k) => s"WHEN u < $c THEN $k" }.mkString(" ")
    s"""WITH nn AS (SELECT lang, n_chars, doc_id FROM documents WHERE n_chars IS NOT NULL),
        e AS (SELECT lang, n_chars, doc_id, unnest(range(0, 32)) AS rep FROM nn),
        x AS (SELECT lang, rep, n_chars,
                     ('0x' || substr(md5('boot:' || rep::VARCHAR || ':' || doc_id::VARCHAR), 1, 13))::BIGINT
                       / 4503599627370496.0 AS u
              FROM e),
        w AS (SELECT lang, rep, n_chars, CASE $cases ELSE 9 END AS w FROM x),
        g AS (SELECT lang, rep, sum(w * n_chars) AS swx, sum(w) AS sw FROM w GROUP BY 1, 2),
        m AS (SELECT lang, rep, swx::DOUBLE / sw AS m FROM g WHERE sw > 0),
        a AS (SELECT lang, list(m ORDER BY m) AS ms FROM m GROUP BY lang),
        base AS (SELECT lang, count(*)::BIGINT AS n, sum(n_chars) AS s FROM nn GROUP BY lang)
        SELECT base.lang, n,
               floor((s::DOUBLE / n) * 1e4 + 0.5) / 1e4 AS mean_r,
               floor((ms[greatest(1, ceil(0.025 * len(ms))::INT)]) * 1e4 + 0.5) / 1e4 AS lo_r,
               floor((ms[greatest(1, ceil(0.975 * len(ms))::INT)]) * 1e4 + 0.5) / 1e4 AS hi_r
        FROM base JOIN a USING (lang) ORDER BY lang"""
  }

  /** One unique-column-combination leg (mirror of Stats.uccCheck). */
  private def uccSql(tbl: String, cols: Seq[String]): String = {
    val cl = cols.mkString(", ")
    s"""SELECT '${cols.mkString(",")}' AS ucc,
               sum(c)::BIGINT AS n_rows, count(*)::BIGINT AS n_groups,
               sum((c > 1)::INT)::BIGINT AS n_dup_groups, max(c)::BIGINT AS max_mult,
               (sum((c > 1)::INT) = 0)::INT AS is_unique
        FROM (SELECT $cl, count(*) AS c FROM $tbl GROUP BY $cl) g"""
  }

  /** Shared CTE chain for the clustering-quality evals (mirror of
    * Similarity.ownVsOtherDistance): rounded centroid-cosine grid, rank
    * per point, own (da) vs nearest-other (db_) distances, per-point
    * rounded silhouette. `extraCte` appends `finalSelect` as further
    * CTEs + select instead of a bare final select.
    */
  private def silhouetteSql(finalSelect: String, extraCte: Boolean = false): String =
    s"""WITH e AS (SELECT vec_id, embedding,
                sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
                     i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))) AS nrm
           FROM embeddings WHERE vec_id >= 8),
         c AS (SELECT vec_id AS c_id, embedding AS cv,
                sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
                     i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))) AS cn
           FROM embeddings WHERE vec_id < 8),
         p AS (SELECT e.vec_id, c_id,
                floor((list_sum(list_transform(range(1, len(e.embedding) + 1),
                     i -> e.embedding[i]::DOUBLE * cv[i]::DOUBLE)) / (e.nrm * cn))
                      * 1e6 + 0.5) / 1e6 AS cos_r
           FROM e CROSS JOIN c),
         r AS (SELECT vec_id, c_id, cos_r,
                row_number() OVER (PARTITION BY vec_id ORDER BY cos_r DESC, c_id) AS rn
           FROM p),
         ab AS (SELECT b1.vec_id, b1.c_id AS cell,
                       1.0 - b1.cos_r AS da, 1.0 - s2.cos_r AS db_
           FROM r b1 JOIN r s2 ON s2.vec_id = b1.vec_id AND s2.rn = 2 WHERE b1.rn = 1),
         sv AS (SELECT vec_id, cell, da,
                floor((CASE WHEN greatest(da, db_) > 0.0
                            THEN (db_ - da) / greatest(da, db_) ELSE 0.0 END)
                      * 1e6 + 0.5) / 1e6 AS s
           FROM ab)${if (extraCte) "," else ""}
         $finalSelect"""

  /** Matryoshka-recall oracle (mirror of Similarity.mrlRecallEval):
    * full-dim brute-force truth, per-prefix-dim re-normalized top-k,
    * rounded-cosine + id tiebreak everywhere.
    */
  private def mrlSql(dims: Seq[Int], k: Int): String = {
    val dimCtes = dims.map { d =>
      s"""qd$d AS (SELECT vec_id AS q_id, embedding AS qv,
                         sqrt(list_sum(list_transform(range(1, $d + 1),
                              i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))) AS qn
                  FROM embeddings WHERE vec_id < 10),
          cd$d AS (SELECT vec_id, embedding AS cv,
                          sqrt(list_sum(list_transform(range(1, $d + 1),
                               i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))) AS cn
                   FROM embeddings WHERE vec_id >= 10),
          t$d AS (SELECT q_id, vec_id FROM (
                    SELECT qd$d.q_id, cd$d.vec_id,
                           row_number() OVER (PARTITION BY qd$d.q_id
                             ORDER BY floor((list_sum(list_transform(range(1, $d + 1),
                                    i -> qd$d.qv[i]::DOUBLE * cd$d.cv[i]::DOUBLE))
                                  / (qd$d.qn * cd$d.cn)) * 1e6 + 0.5) / 1e6 DESC,
                                cd$d.vec_id) AS rn
                    FROM qd$d CROSS JOIN cd$d) z
                  WHERE rn <= $k),
          h$d AS (SELECT $d AS dim, count(*) AS hits
                  FROM t$d JOIN bf USING (q_id, vec_id))"""
    }.mkString(",\n")
    val unioned = dims.map(d => s"SELECT dim, hits FROM h$d").mkString(" UNION ALL ")
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv,
                         sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
                              i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))) AS qn
                  FROM embeddings WHERE vec_id < 10),
          c AS (SELECT vec_id, embedding AS cv,
                       sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
                            i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))) AS cn
                FROM embeddings WHERE vec_id >= 10),
          bf AS (SELECT q_id, vec_id FROM (
                   SELECT q.q_id, c.vec_id,
                          row_number() OVER (PARTITION BY q.q_id
                            ORDER BY floor((list_sum(list_transform(range(1, len(q.qv) + 1),
                                   i -> q.qv[i]::DOUBLE * c.cv[i]::DOUBLE))
                                 / (q.qn * c.cn)) * 1e6 + 0.5) / 1e6 DESC, c.vec_id) AS rn
                   FROM q CROSS JOIN c) z
                 WHERE rn <= $k),
          nq AS (SELECT count(*) AS n_queries FROM q),
          $dimCtes
          SELECT dim, n_queries, hits,
                 floor((hits::DOUBLE / (n_queries * $k)) * 1e4 + 0.5) / 1e4 AS recall_r
          FROM ($unioned) u CROSS JOIN nq ORDER BY dim"""
  }

  /** One inclusion-dependency leg (mirror of Stats.inclusionCheck). */
  private def indSql(aTbl: String, aCol: String, bTbl: String, bCol: String): String =
    s"""SELECT '$aCol <= $bCol' AS ind,
               (SELECT count(DISTINCT $aCol) FROM $aTbl WHERE $aCol IS NOT NULL)::BIGINT AS n_distinct,
               (SELECT count(*) FROM (SELECT DISTINCT $aCol AS v FROM $aTbl WHERE $aCol IS NOT NULL) a
                WHERE NOT EXISTS (SELECT 1 FROM $bTbl b WHERE b.$bCol = a.v))::BIGINT AS n_orphans,
               ((SELECT count(*) FROM (SELECT DISTINCT $aCol AS v FROM $aTbl WHERE $aCol IS NOT NULL) a
                 WHERE NOT EXISTS (SELECT 1 FROM $bTbl b WHERE b.$bCol = a.v)) = 0)::INT AS holds"""

  /** One langId CTE chain over a derived text expression, CTE names
    * prefixed so two instances (head/tail halves) coexist — mirror of
    * TextAnalysis.langId over TextAnalysis.codeSwitch's halves.
    */
  private def langIdHalfCte(p: String, srcExpr: String): String =
    s"""${p}src AS (SELECT doc_id, $srcExpr AS text FROM documents),
        ${p}tok AS (
          SELECT doc_id, w AS word FROM (
            SELECT doc_id,
                   regexp_replace(lower(unnest(regexp_split_to_array(text, '\\s+'))), '[^a-z]', '', 'g') AS w
            FROM ${p}src) u WHERE w <> ''),
        ${p}hits AS (SELECT doc_id, ml, count(*) AS hits FROM (
            SELECT doc_id, CASE WHEN word IN ('the','and','is','of') THEN 'en'
                                WHEN word IN ('le','et','dans','les') THEN 'fr'
                                WHEN word IN ('der','und','nicht','das') THEN 'de'
                                WHEN word IN ('el','y','que','los') THEN 'es' END AS ml
            FROM ${p}tok) m WHERE ml IS NOT NULL GROUP BY doc_id, ml),
        ${p}best AS (SELECT doc_id, ml FROM (
            SELECT doc_id, ml,
                   row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, ml) AS rn
            FROM ${p}hits) b WHERE rn = 1)"""

  /** RBO oracle (mirror of Search.rboEval over bm25Query vs tfidfQuery):
    * both rank CTEs use the 6-dp-rounded-score windows of rankResults;
    * the per-depth weights are the IDENTICAL Scala doubles via
    * Search.rboWeights — no SQL pow().
    */
  private def rboSql(k: Int, p: Double): String = {
    val w = Search.rboWeights(k, p)
    val vals = (1 to k).map(d => s"($d, ${w(d - 1)})").mkString(", ")
    s"""WITH $TokCte,
        dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
        stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
        tf AS (SELECT doc_id, word, count(*) AS tf FROM tok
               WHERE word IN ('spark', 'vector', 'window') GROUP BY doc_id, word),
        dfs AS (SELECT word, count(DISTINCT doc_id) AS df_t FROM tf GROUP BY word),
        bscore AS (
          SELECT doc_id,
                 sum(idf * (tf * (1.2 + 1.0)) /
                     (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))) AS score
          FROM (SELECT tf.doc_id, tf.tf, dl.dl, n_docs, avgdl,
                       ln((n_docs - df_t + 0.5) / (df_t + 0.5) + 1.0) AS idf
                FROM tf JOIN dfs USING (word)
                JOIN dl ON dl.doc_id = tf.doc_id
                CROSS JOIN stats) u
          GROUP BY doc_id),
        lex AS (SELECT doc_id,
                       row_number() OVER (ORDER BY floor(score * 1e6 + 0.5) / 1e6 DESC, doc_id) AS ra
                FROM bscore QUALIFY ra <= 1000),
        n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tok),
        tscore AS (SELECT doc_id, sum(tf * ln(n_docs::DOUBLE / df_t)) AS score
                   FROM tf JOIN dfs USING (word) CROSS JOIN n GROUP BY doc_id),
        tfr AS (SELECT doc_id,
                       row_number() OVER (ORDER BY floor(score * 1e6 + 0.5) / 1e6 DESC, doc_id) AS rb
                FROM tscore QUALIFY rb <= 1000),
        rw AS (SELECT * FROM (VALUES $vals) AS t(m, w)),
        j AS (SELECT greatest(lex.ra, tfr.rb) AS m
              FROM lex JOIN tfr USING (doc_id)
              WHERE lex.ra <= $k AND tfr.rb <= $k)
        SELECT count(*)::BIGINT AS n_shared,
               floor((coalesce(sum(rw.w), 0.0)) * 1e6 + 0.5) / 1e6 AS rbo_r
        FROM j JOIN rw ON rw.m = j.m"""
  }

  /** Unrolled greedy MMR (mirror of Similarity.mmrSelect): per round,
    * the argmax of λ·rel_r − (1−λ)·max sim_r to the selected-so-far,
    * scalar-subquery form; λ and (1−λ) are emitted as the EXACT Scala
    * doubles (1.0−0.7 is 0.30000000000000004, not 0.3).
    */
  private def mmrSql(n: Int, k: Int, lambda: Double): String = {
    val lam = lambda.toString
    val oml = (1.0 - lambda).toString
    val rounds = (2 to k).map { r =>
      s"""m$r AS (SELECT c.vec_id,
                    floor(($lam * c.rel_r - $oml * (
                        SELECT max(p.sim_r) FROM pairs p
                        WHERE p.a = c.vec_id
                          AND p.b IN (SELECT vec_id FROM sel${r - 1}))) * 1e6 + 0.5) / 1e6
                      AS score_r
               FROM cand c
               WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${r - 1})),
          s$r AS (SELECT vec_id, score_r FROM m$r ORDER BY score_r DESC, vec_id LIMIT 1),
          sel$r AS (SELECT vec_id FROM sel${r - 1} UNION ALL SELECT vec_id FROM s$r)"""
    }.mkString(",\n")
    val out = (1 to k)
      .map(r => s"SELECT $r AS rank, vec_id, score_r FROM s$r")
      .mkString(" UNION ALL ")
    s"""WITH e AS (
          SELECT vec_id, embedding,
                 sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
                      i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))) AS nrm
          FROM embeddings),
        q AS (SELECT embedding AS qv, nrm AS qn FROM e WHERE vec_id = 0),
        cand AS (SELECT vec_id, embedding, nrm,
                        floor((list_sum(list_transform(range(1, len(embedding) + 1),
                             i -> embedding[i]::DOUBLE * qv[i]::DOUBLE)) / (nrm * qn)) * 1e6 + 0.5) / 1e6 AS rel_r
                 FROM e CROSS JOIN q
                 ORDER BY rel_r DESC, vec_id LIMIT $n),
        pairs AS (SELECT a.vec_id AS a, b.vec_id AS b,
                         floor((list_sum(list_transform(range(1, len(a.embedding) + 1),
                              i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
                           / (a.nrm * b.nrm)) * 1e6 + 0.5) / 1e6 AS sim_r
                  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
        s1 AS (SELECT vec_id, rel_r AS score_r FROM cand ORDER BY rel_r DESC, vec_id LIMIT 1),
        sel1 AS (SELECT vec_id FROM s1),
        $rounds
        $out ORDER BY rank"""
  }

  /** Unrolled fixed-iteration HITS (mirror of Graph.hits): authorities
    * from the previous hub vector, hubs from the UPDATED authorities,
    * iterated UNNORMALIZED (integer-valued sums — exact) with ONE final
    * L1 normalization, which scale-invariance makes identical to the
    * textbook per-round form.
    */
  private def hitsSql(iters: Int): String = {
    val rounds = (1 to iters).map { k =>
      s"""a$k AS (SELECT e0.dst AS node, sum(h.hub) AS auth
                  FROM e0 JOIN h${k - 1} h ON e0.src = h.node GROUP BY e0.dst),
          h$k AS (SELECT e0.src AS node, sum(a.auth) AS hub
                  FROM e0 JOIN a$k a ON e0.dst = a.node GROUP BY e0.src)"""
    }.mkString(",\n")
    s"""WITH e0 AS (SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
                    FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        nodes AS (SELECT src AS node FROM e0 UNION SELECT dst FROM e0),
        h0 AS (SELECT node, 1.0 AS hub FROM nodes),
        $rounds
        SELECT n.node,
               floor((coalesce(h.hub, 0.0) / (SELECT sum(hub) FROM h$iters)) * 1e6 + 0.5) / 1e6 AS hub_r,
               floor((coalesce(a.auth, 0.0) / (SELECT sum(auth) FROM a$iters)) * 1e6 + 0.5) / 1e6 AS auth_r
        FROM nodes n LEFT JOIN h$iters h ON n.node = h.node
                     LEFT JOIN a$iters a ON n.node = a.node
        ORDER BY n.node"""
  }

  /** Unrolled quantized power iteration for the session-chain stationary
    * distribution (mirror of Journeys.markovStationary): 6-dp scaled
    * transition probs and iterate, HUGEINT-exact mass sums.
    */
  private def markovSql(iters: Int): String =
    s"""WITH ${markovCtes(iters)},
        tot AS (SELECT sum(pi6)::DOUBLE AS tot FROM pi$iters)
        SELECT sid AS state, floor((pi6::DOUBLE / tot) * 1e6 + 0.5) / 1e6 AS pi_r
        FROM pi$iters CROSS JOIN tot ORDER BY state"""

  /** Entropy rate over the same chain: ROUNDED π (6 dp) × ROUNDED row
    * entropies (p at 4 dp) — mirror of Journeys.markovEntropyRate.
    */
  private def markovEntropySql(iters: Int): String =
    s"""WITH ${markovCtes(iters)},
        tot AS (SELECT sum(pi6)::DOUBLE AS tot FROM pi$iters),
        pr AS (SELECT sid, floor((pi6::DOUBLE / tot) * 1e6 + 0.5) / 1e6 AS pi_r
               FROM pi$iters CROSS JOIN tot),
        hr AS (SELECT f AS from_type, sum(-p * ln(p)) AS h FROM
                 (SELECT c.f, floor(c.n::DOUBLE / rs.r::DOUBLE * 1e4 + 0.5) / 1e4 AS p
                  FROM c JOIN rs USING (f)) q
               WHERE p > 0 GROUP BY f)
        SELECT count(*)::BIGINT AS n_states,
               floor(sum(pr.pi_r * coalesce(hr.h, 0.0)) * 1e6 + 0.5) / 1e6 AS h_rate_r
        FROM pr LEFT JOIN hr ON hr.from_type = pr.sid"""

  private def markovCtes(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""pi$i AS (
            SELECT st.sid, coalesce(m.v, 0)::BIGINT AS pi6 FROM st
            LEFT JOIN (SELECT p6.t AS sid,
                              floor(sum(pi.pi6::HUGEINT * p6.p6)::DOUBLE / 1e6 + 0.5)::BIGINT AS v
                       FROM p6 JOIN pi${i - 1} pi ON pi.sid = p6.f
                       GROUP BY p6.t) m USING (sid))"""
    }.mkString(",\n")
    s"""x AS (
           SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
                  lag(epoch_us(ts)) OVER w AS prev_us
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
        sx AS (
           SELECT user_id, event_id, event_type, ts_us,
                  CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_sess
           FROM x),
        rx AS (
           SELECT user_id, event_type, ts_us, event_id,
                  sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
           FROM sx),
        tx AS (
           SELECT event_type AS from_type,
                  lead(event_type) OVER w2 AS to_type,
                  sess_id,
                  lead(sess_id) OVER w2 AS next_sess
           FROM rx
           WINDOW w2 AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        c AS (
           SELECT from_type AS f, to_type AS t, count(*) AS n
           FROM tx WHERE to_type IS NOT NULL AND next_sess = sess_id
           GROUP BY 1, 2),
        rs AS (SELECT f, sum(n) AS r FROM c GROUP BY f),
        p6 AS (SELECT c.f, c.t,
                      floor(c.n::DOUBLE / rs.r::DOUBLE * 1e6 + 0.5)::BIGINT AS p6
               FROM c JOIN rs USING (f)),
        st AS (SELECT f AS sid FROM p6 UNION SELECT t FROM p6),
        kk AS (SELECT count(*)::BIGINT AS k FROM st),
        pi0 AS (SELECT sid, floor(1e6 / k::DOUBLE + 0.5)::BIGINT AS pi6
                FROM st CROSS JOIN kk),
        $steps"""
  }

  /** Unrolled fixed-iteration rank-1 ALS (mirror of Recommend.alsRank1):
    * factors quantized to 6-dp scaled BIGINTs between half-steps, both
    * solver sums exact HUGEINTs, the division one fixed-order scalar op.
    */
  private def alsSql(iters: Int): String = {
    def half(prev: String, out: String, joinKey: String, grpKey: String) =
      s"""$out AS (SELECT r.$grpKey AS k,
                CASE WHEN sum(f.f6::HUGEINT * f.f6) > 0
                     THEN floor(sum(r.rt::HUGEINT * f.f6)::DOUBLE * 1e6
                                / sum(f.f6::HUGEINT * f.f6)::DOUBLE * 1e6 + 0.5)::BIGINT
                     ELSE 0 END AS f6
           FROM r JOIN $prev f ON f.k = r.$joinKey GROUP BY r.$grpKey)"""
    val steps = (1 to iters).flatMap { it =>
      Seq(half(s"v${it - 1}", s"u$it", "i", "u"), half(s"u$it", s"v$it", "u", "i"))
    }.mkString(",\n")
    s"""WITH r AS (SELECT o_custkey AS u, l_partkey AS i,
                          sum(l_quantity::BIGINT)::BIGINT AS rt
                   FROM orders JOIN lineitem ON o_orderkey = l_orderkey
                   GROUP BY 1, 2),
        v0 AS (SELECT DISTINCT i AS k, 1000000::BIGINT AS f6 FROM r),
        $steps,
        n AS (SELECT i, count(DISTINCT u)::BIGINT AS n_users FROM r GROUP BY i)
        SELECT v$iters.k AS l_partkey, n.n_users,
               floor((v$iters.f6::DOUBLE / 1e6) * 1e6 + 0.5) / 1e6 AS v_r
        FROM v$iters JOIN n ON n.i = v$iters.k ORDER BY l_partkey"""
  }

  /** Dense zero-filled per-stream hourly count series (mirror of
    * TimeSeries.denseHourlySeries): the regular grid lag statistics
    * need; generate_series is inclusive like Spark's sequence.
    */
  private val DenseHourCte =
    """hc AS (SELECT event_type, epoch_us(ts::TIMESTAMP) // 3600000000 AS h,
                     count(*) AS c
              FROM events GROUP BY 1, 2),
       sp AS (SELECT event_type, unnest(generate_series(min(h), max(h))) AS h
              FROM hc GROUP BY event_type),
       ser AS (SELECT sp.event_type, sp.h, coalesce(hc.c, 0)::BIGINT AS x
               FROM sp LEFT JOIN hc ON hc.event_type = sp.event_type AND hc.h = sp.h)"""

  /** Per-nation MONTHLY revenue series — the bounded (calendar-sized)
    * trend-test input shared by q_mann_kendall / q_theil_sen. Revenue is
    * summed as DECIMAL(18,2) — Mann–Kendall's pairwise SIGNS demand
    * exact ties, which a float partial-agg order can't guarantee.
    */
  private def nationMonthlyRevenue(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("mth"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))

  /** The monthly-series CTE mirror of [[nationMonthlyRevenue]]. */
  private val NationMonthlyCte =
    """ser AS (SELECT n_name AS nation,
                      (year(o_orderdate) * 12 + month(o_orderdate))::BIGINT AS mth,
                      sum(o_totalprice::DECIMAL(18,2)) AS rev
               FROM orders JOIN customer ON o_custkey = c_custkey
               JOIN nation ON c_nationkey = n_nationkey
               GROUP BY 1, 2)"""

  /** The same-nation trade graph CTE (mirror of Graph.sameNationEdges +
    * the consumer-side symmetrization): directed c→s edges where the
    * customer's and supplier's nation agree, then both directions.
    */
  /** Mirror of Stats.sprtBernoulli on the events purchase stream: the
    * log-odds increments and Wald boundaries are the SAME Scala doubles
    * the operator uses, embedded as round-tripping literals.
    */
  private def sprtSql(p0: Double, p1: Double, alpha: Double, beta: Double): String = {
    def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    val c1 = math.log(p1 / p0)
    val c0 = math.log((1 - p1) / (1 - p0))
    val bndA = r6(math.log((1 - beta) / alpha))
    val bndB = r6(math.log(beta / (1 - alpha)))
    s"""WITH e AS (SELECT epoch_us(ts::TIMESTAMP) // 3600000000 AS h,
                          (event_type = 'purchase')::BIGINT AS y
                   FROM events
                   WHERE ts IS NOT NULL AND event_type IS NOT NULL),
        hh AS (SELECT h, count(*)::BIGINT AS n, sum(y)::BIGINT AS k FROM e GROUP BY 1),
        c AS (SELECT h, (sum(n) OVER (ORDER BY h))::BIGINT AS cn,
                     (sum(k) OVER (ORDER BY h))::BIGINT AS ck
              FROM hh),
        l AS MATERIALIZED (SELECT h, cn, ck,
                    floor((ck::DOUBLE * ($c1) + (cn - ck)::DOUBLE * ($c0)) * 1e6 + 0.5) / 1e6
                      AS llr
             FROM c),
        x AS (SELECT CASE WHEN llr >= $bndA THEN 'accept_h1' ELSE 'accept_h0' END AS decision,
                     h AS cross_h, cn AS n_at_cross, 0 AS pr
              FROM l WHERE llr >= $bndA OR llr <= $bndB ORDER BY h LIMIT 1),
        f AS MATERIALIZED (SELECT cn AS n, ck AS k, llr AS llr_final_r
             FROM l ORDER BY h DESC LIMIT 1),
        v AS (SELECT decision, cross_h, n_at_cross FROM (
                SELECT * FROM x
                UNION ALL
                SELECT 'continue', NULL::BIGINT, NULL::BIGINT, 1 FROM f) u
              ORDER BY pr LIMIT 1)
        SELECT n, k, llr_final_r, decision, cross_h, n_at_cross FROM f CROSS JOIN v"""
  }

  /** Unrolled fixed-rounds k-truss support peel over the customer
    * co-supplier projection (mirror of Graph.kTruss on
    * Graph.coSupplierEdges): per round the oriented-wedge support count
    * and the >= k-2 filter; the final support recomputes on the
    * surviving truss with a LEFT join so stragglers read 0.
    */
  private def kTrussSql(k: Int, rounds: Int, maxDeg: Int): String = {
    // every o_r is referenced five times by round r+1's wedge join —
    // MATERIALIZED, or DuckDB inlines the whole unrolled chain and the
    // plan re-expands the base scans ~5^rounds times (fd exhaustion)
    val steps = (1 to rounds).map { r =>
      s"""a$r AS MATERIALIZED (SELECT src, dst FROM o${r - 1}
                  UNION ALL SELECT dst AS src, src AS dst FROM o${r - 1}),
          s$r AS (SELECT o.src, o.dst, count(*) AS sup
                  FROM o${r - 1} o
                  JOIN a$r x ON x.src = o.src
                  JOIN a$r y ON y.src = o.dst AND y.dst = x.dst
                  GROUP BY 1, 2),
          o$r AS MATERIALIZED (SELECT src, dst FROM s$r WHERE sup >= ${k - 2})"""
    }.mkString(",\n")
    s"""WITH $NationEdgesCte,
        kd AS (SELECT dst FROM ne0 GROUP BY dst HAVING count(*) <= $maxDeg),
        nek AS (SELECT ne0.src, ne0.dst FROM ne0 JOIN kd USING (dst)),
        o0 AS MATERIALIZED (SELECT DISTINCT a.src AS src, b.src AS dst
               FROM nek a JOIN nek b ON a.dst = b.dst AND a.src < b.src),
        $steps,
        af AS (SELECT src, dst FROM o$rounds
               UNION ALL SELECT dst AS src, src AS dst FROM o$rounds),
        sf AS (SELECT o.src, o.dst, count(*) AS sup
               FROM o$rounds o
               JOIN af x ON x.src = o.src
               JOIN af y ON y.src = o.dst AND y.dst = x.dst
               GROUP BY 1, 2)
        SELECT o.src, o.dst, coalesce(sf.sup, 0)::BIGINT AS support
        FROM o$rounds o LEFT JOIN sf ON sf.src = o.src AND sf.dst = o.dst
        ORDER BY o.src, o.dst"""
  }

  private val NationEdgesCte =
    """ne0 AS (SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
               FROM orders JOIN lineitem ON o_orderkey = l_orderkey
               JOIN customer ON c_custkey = o_custkey
               JOIN supplier ON s_suppkey = l_suppkey
               WHERE c_nationkey = s_nationkey),
       ne AS (SELECT src, dst FROM ne0 UNION SELECT dst AS src, src AS dst FROM ne0)"""

  /** Unrolled fixed-iteration self-vote label propagation (mirror of
    * Graph.labelPropagation): per round, plurality over neighbor labels
    * plus the node's own, ties to the smallest label — integer votes and
    * a total order, so the replay is exact.
    */
  private def labelPropSql(iters: Int): String = {
    val steps = (1 to iters).map { r =>
      s"""lab$r AS (
            SELECT node, nl AS label FROM (
              SELECT v.node, v.nl,
                     row_number() OVER (PARTITION BY v.node
                                        ORDER BY count(*) DESC, v.nl) AS rn
              FROM (SELECT ne.src AS node, l.label AS nl
                    FROM ne JOIN lab${r - 1} l ON ne.dst = l.node
                    UNION ALL SELECT node, label FROM lab${r - 1}) v
              GROUP BY v.node, v.nl) q
            WHERE rn = 1)"""
    }.mkString(",\n")
    s"""WITH $NationEdgesCte,
        lab0 AS (SELECT DISTINCT src AS node, src AS label FROM ne),
        $steps
        SELECT node, label FROM lab$iters ORDER BY node"""
  }

  /** Unrolled k-core peeling (mirror of Graph.kCore): each round keeps
    * nodes with degree >= k and the edges both of whose endpoints
    * survive; peeling is monotone, so rounds >= the cascade depth is a
    * fixpoint.
    */
  private def kCoreSql(k: Int, rounds: Int): String = {
    val steps = (1 to rounds).map { r =>
      s"""keep$r AS (SELECT src FROM ke${r - 1} GROUP BY src HAVING count(*) >= $k),
          ke$r AS (SELECT c.src, c.dst FROM ke${r - 1} c
                   JOIN keep$r a ON c.src = a.src
                   JOIN keep$r b ON c.dst = b.src)"""
    }.mkString(",\n")
    s"""WITH $NationEdgesCte,
        ke0 AS (SELECT src, dst FROM ne),
        $steps
        SELECT src AS node, count(*)::BIGINT AS deg
        FROM ke$rounds GROUP BY src ORDER BY node"""
  }

  /** Mirror of Journeys.shapleyAttribution: the 2ⁿ-mask characteristic
    * function with factorial weights emitted as Scala-computed literals;
    * v ROUNDED before the marginal differences.
    */
  private def shapleySql(channels: Seq[String], outcome: String): String = {
    val n = channels.size
    def fact(x: Int): Double = (1 to x).foldLeft(1.0)(_ * _)
    val maskExpr = channels.zipWithIndex.map { case (c, i) =>
      s"CASE WHEN max((event_type = '$c')::INT) = 1 THEN ${1L << i} ELSE 0 END"
    }.mkString(" + ")
    val wCase = (0 until n)
      .map(s => s"WHEN bit_count(a.mask) = $s THEN ${fact(s) * fact(n - 1 - s) / fact(n)}")
      .mkString(" ")
    val branches = channels.zipWithIndex.map { case (c, i) =>
      val bit = 1L << i
      s"""SELECT '$c' AS channel, (CASE $wCase END) * (b.v - a.v) AS t
          FROM v a JOIN v b ON b.mask = a.mask + $bit
          WHERE (a.mask & $bit) = 0"""
    }.mkString("\nUNION ALL\n")
    s"""WITH per AS (SELECT user_id, ($maskExpr) AS mask,
                            max((event_type = '$outcome')::INT) AS y
                     FROM events GROUP BY 1),
        counts AS (SELECT mask, count(*)::BIGINT AS n, sum(y)::BIGINT AS c
                   FROM per GROUP BY 1),
        sp AS (SELECT unnest(range(0, ${1L << n}))::BIGINT AS mask),
        v AS (SELECT sp.mask,
                     CASE WHEN counts.n > 0
                          THEN floor((counts.c::DOUBLE / counts.n::DOUBLE) * 1e6 + 0.5) / 1e6
                          ELSE 0.0 END AS v
              FROM sp LEFT JOIN counts USING (mask)),
        contrib AS ($branches)
        SELECT channel, floor(sum(t) * 1e6 + 0.5) / 1e6 AS phi_r
        FROM contrib GROUP BY 1 ORDER BY channel"""
  }

  /** Unrolled multi-source BFS (mirror of Graph.bfsDistances): per round,
    * union the frontier expansion and keep the min label — exact
    * integers, monotone, fixpoint at rounds ≥ seed eccentricity.
    */
  private def bfsSql(seeds: Seq[String], rounds: Int): String = {
    val seedList = seeds.map(s => s"'$s'").mkString(", ")
    val steps = (1 to rounds).map { r =>
      s"""d$r AS (SELECT node, min(dist)::BIGINT AS dist FROM (
             SELECT node, dist FROM d${r - 1}
             UNION ALL SELECT ne.dst AS node, p.dist + 1 AS dist
             FROM ne JOIN d${r - 1} p ON ne.src = p.node) u GROUP BY node)"""
    }.mkString(",\n")
    s"""WITH $NationEdgesCte,
        d0 AS (SELECT DISTINCT src AS node, 0::BIGINT AS dist FROM ne
               WHERE src IN ($seedList)),
        $steps
        SELECT node, dist FROM d$rounds ORDER BY node"""
  }

  /** Seed-carrying BFS + harmonic combine (mirror of
    * Graph.landmarkCloseness): per-(seed, node) min-label rounds, then
    * each 1/d term 6dp-floored into an exact HUGEINT sum per node.
    */
  private def landmarkSql(seeds: Seq[String], rounds: Int): String = {
    val seedList = seeds.map(s => s"'$s'").mkString(", ")
    val steps = (1 to rounds).map { r =>
      s"""d$r AS (SELECT seed, node, min(dist)::BIGINT AS dist FROM (
             SELECT seed, node, dist FROM d${r - 1}
             UNION ALL SELECT p.seed, ne.dst AS node, p.dist + 1 AS dist
             FROM ne JOIN d${r - 1} p ON ne.src = p.node) u GROUP BY seed, node)"""
    }.mkString(",\n")
    s"""WITH $NationEdgesCte,
        d0 AS (SELECT DISTINCT src AS seed, src AS node, 0::BIGINT AS dist FROM ne
               WHERE src IN ($seedList)),
        $steps
        SELECT node, count(*)::BIGINT AS n_reached,
               floor((sum(CASE WHEN dist > 0
                                THEN floor(1.0 / dist::DOUBLE * 1e6 + 0.5)
                                ELSE 0 END)::HUGEINT::DOUBLE / 1e6) * 1e6 + 0.5) / 1e6 AS harm_r
        FROM d$rounds GROUP BY node ORDER BY node"""
  }

  private def pagerankSql(iters: Int, d: Double): String = {
    val steps = (1 to iters).map { k =>
      s"""pr$k AS (SELECT t.node, ((1.0 - $d) / n.n + $d * t.mass) AS pr
                   FROM (SELECT e.dst AS node, sum(p.pr / deg.degree) AS mass
                         FROM e JOIN pr${k - 1} p ON e.src = p.node
                                JOIN deg ON deg.node = e.src
                         GROUP BY e.dst) t CROSS JOIN n)"""
    }.mkString(",\n")
    s"""WITH $GraphEdgesCte,
        deg AS (SELECT src AS node, count(*) AS degree FROM e GROUP BY src),
        n AS (SELECT count(*)::DOUBLE AS n FROM deg),
        pr0 AS (SELECT node, 1.0 / n.n AS pr FROM deg CROSS JOIN n),
        $steps
        SELECT node, floor((pr) * 1e6 + 0.5) / 1e6 AS pr FROM pr$iters ORDER BY node"""
  }
}
