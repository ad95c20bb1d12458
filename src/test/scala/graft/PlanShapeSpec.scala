package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.operators.{InvertedIndex, Search, Tokenize}

/** Pins the SHAPE of the hot plans, not just their results: shuffle count is
  * the thing that decides whether a pipeline survives a 100x scale-up, so a
  * regression that slips in an extra exchange should fail loudly here.
  */
class PlanShapeSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** Count SHUFFLE exchanges only — BroadcastExchange moves a small table to
    * every executor once and is exactly what we want joins to do.
    */
  private def exchanges(df: org.apache.spark.sql.DataFrame): Int =
    "(?<!Broadcast)Exchange ".r.findAllIn(df.queryExecution.executedPlan.toString).length

  private lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  test("postings build = exactly one shuffle (hash agg on word)") {
    val postings = Engine.indexFromTable(docs)
    assert(exchanges(postings) == 1,
      s"postings should shuffle once:\n${postings.queryExecution.executedPlan}")
  }

  test("manifest index build: one exchange, no Generate, min(#files, defaultParallelism) scan partitions") {
    val dir = java.nio.file.Paths.get(getClass.getResource("/bytes/manifest.txt").toURI).getParent
    def build(manifest: java.nio.file.Path) = Engine.indexFromManifest(spark, manifest.toString, dir.toString)
    def scanPartitions(df: org.apache.spark.sql.DataFrame): Seq[Int] =
      collect(df.queryExecution.executedPlan) { case b: BatchScanExec => b.inputPartitions.size }
    val two = java.nio.file.Files.createTempFile("graft-two-files", ".txt")
    java.nio.file.Files.writeString(two, "2\nrows.txt\nseps.txt\n")
    // the byte corpus lists 8 files; the scan packs one bin per core
    for ((manifest, cores, bins) <- Seq((dir.resolve("manifest.txt"), 1, 1), (dir.resolve("manifest.txt"), 4, 4),
        (two, 4, 2))) {
      org.apache.spark.TestParallelism.withDefaultParallelism(spark.sparkContext, cores) {
        val idx = build(manifest)
        val plan = idx.queryExecution.executedPlan.toString
        assert(exchanges(idx) == 1, s"the merge of partial postings shuffles once:\n$plan")
        assert(!plan.contains("Generate"), s"no token rows are exploded:\n$plan")
        assert(scanPartitions(idx) == Seq(bins), s"$manifest at $cores cores:\n$plan")
      }
    }
  }

  test("index-served AND/OR: words pushed into the scan, no shuffle; live AND keeps its shuffles") {
    val terms = Seq("spark", "query", "join")
    val dir = java.nio.file.Files.createTempDirectory("graft-plan-shape-idx").toString
    graft.sources.LetterSink.writeExact(Engine.indexFromTable(docs), dir)
    for (q <- Seq(Search.andQueryFromIndex(spark, dir, terms), Search.orQueryFromIndex(spark, dir, terms))) {
      val plan = q.queryExecution.executedPlan.toString
      assert(exchanges(q) == 0, s"the pruned slice must be served as one task:\n$plan")
      assert(plan.contains("letters={j,q,s}, words={join,query,spark}"),
        s"letters and words must both reach the scan:\n$plan")
    }
    // the live-postings query stays distributed: the postings agg on word
    // (which already clusters the (doc_id, word) distinct), the doc_id
    // count and the range-partitioned sort
    val live = Search.andQuery(Engine.indexFromTable(docs), terms)
    assert(exchanges(live) == 3, s"live AND should shuffle 3x:\n${live.queryExecution.executedPlan}")
  }

  test("tokenize + quality metrics are shuffle-free (pure map-side)") {
    val toks = Tokenize.tokens(docs, "text", Seq("doc_id"))
    assert(exchanges(toks) == 0)
    val quality = graft.functions.TextAnalysis.withQualityMetrics(docs, "text")
    assert(exchanges(quality) == 0)
  }

  test("brute-force top-k: pair stream partially aggregated BEFORE the exchange") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val topk = graft.operators.Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 3), k = 5)
    val plan = topk.queryExecution.executedPlan.toString
    // one shuffle (the groupBy(q_id)), never a Window over the pair stream,
    // and a partial ObjectHashAggregate feeding the exchange so each map
    // partition ships at most k rows per query
    assert(exchanges(topk) == 1, s"top-k should shuffle once:\n$plan")
    assert(!plan.contains("Window"), s"top-k must not use a window:\n$plan")
    val exchangeIdx = plan.indexOf("Exchange hashpartitioning(q_id")
    val partialIdx  = plan.indexOf("ObjectHashAggregate(keys=[q_id", exchangeIdx)
    assert(exchangeIdx >= 0 && partialIdx > exchangeIdx,
      s"partial cos_topk aggregate must sit below the exchange:\n$plan")
  }

  test("IVF assignment: argmax is a partial aggregation, not a window") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val ivf = graft.operators.Similarity.ivfAssign(emb, emb.where(col("vec_id") < 4))
    val plan = ivf.queryExecution.executedPlan.toString
    assert(exchanges(ivf) == 1, s"IVF should shuffle once (final agg):\n$plan")
    assert(!plan.contains("Window"), s"IVF must not use a window:\n$plan")
    assert(plan.contains("partial_max_by") || plan.contains("partial_maxby")
        || "HashAggregate\\(keys=\\[vec_id".r.findAllIn(plan).length >= 2,
      s"max_by must partially aggregate map-side:\n$plan")
  }

  test("minhash candidates: one banded-stream shuffle, cap before pair expansion, no self-join") {
    val mh = graft.operators.Dedup.minhashCandidates(docs, shingleK = 3, numHashes = 16, bands = 8, maxBucket = 4096)
    val plan = mh.queryExecution.executedPlan.toString
    // two PIPELINE shuffles: groupBy(band_key) + the final pair distinct —
    // the banded (band_key, doc_id) stream is shuffled ONCE (the old
    // self-join form shuffled it twice and had no bucket cap). On a
    // narrow test scan the Spread/fan parallelism repairs add
    // REPARTITION_BY_NUM exchanges (identity at scale: the shingle-map
    // spread below the band stream, and the in-bucket expansion fan above
    // the bucket cap) — count them apart so the pipeline pin stays exact.
    val spreadRepairs = "REPARTITION_BY_NUM".r.findAllIn(plan).length
    assert(spreadRepairs <= 2, s"at most two parallelism repairs expected:\n$plan")
    assert(exchanges(mh) - spreadRepairs == 2,
      s"minhash should shuffle twice past the parallelism repairs (bucket agg + distinct):\n$plan")
    assert(!plan.contains("Join"), s"pair expansion must be in-bucket, not a join:\n$plan")
    // the bucket-size cap must sit between the aggregate and the expansion
    // (r21: the expansion is the chained codegen'd posexplode + explode,
    // not the interpreted flatten(transform(...)) lambda; the cap filter is
    // matched by its >= 2 bound so the InferFiltersFromGenerate guard above
    // the posexplode doesn't shadow it)
    val aggIdx    = plan.indexOf("sorted_set_agg")
    val genIdx    = plan.indexOf("Generate posexplode(ids")
    val capIdx    = "size\\(ids#\\d+, false\\) >= 2".r
      .findFirstMatchIn(plan).map(_.start).getOrElse(-1)
    assert(genIdx >= 0 && capIdx > genIdx && aggIdx > capIdx,
      s"expected pair expansion above size-cap filter above bucket agg:\n$plan")
  }

  test("simhash: two shuffles, no 32x bit explode") {
    val sh = graft.operators.Dedup.simhash(Tokenize.tokens(docs, "text", Seq("doc_id")))
    val plan = sh.queryExecution.executedPlan.toString
    assert(exchanges(sh) == 2, s"simhash should shuffle twice (word freq + doc agg):\n$plan")
    assert(!plan.contains("Generate explode(sequence"), s"bit explode must be gone:\n$plan")
  }

  test("simhash pairs: banded stream shuffled once, cap before in-bucket expansion, no self-join") {
    val sigs = graft.operators.Dedup.simhash(Tokenize.tokens(docs, "text", Seq("doc_id")), bits = 60)
    val pairs = graft.operators.Dedup.simhashPairs(sigs, maxDist = 3, bands = 6, sigBits = 60, maxBucket = 4096)
    val plan = pairs.queryExecution.executedPlan.toString
    // shuffles: simhash's two + bucket agg + final distinct = 4; the round-2
    // self-join form shuffled the banded stream into BOTH join sides. The
    // r21 in-bucket expansion fan is a REPARTITION_BY_NUM parallelism
    // repair (identity at scale) — counted apart like the minhash pin.
    val repairs = "REPARTITION_BY_NUM".r.findAllIn(plan).length
    assert(repairs <= 1, s"at most one parallelism repair expected:\n$plan")
    assert(exchanges(pairs) - repairs == 4,
      s"simhash pairs should shuffle 4x past the parallelism repair:\n$plan")
    assert(!plan.contains("Join"), s"pair expansion must be in-bucket, not a join:\n$plan")
    // r21: chained codegen'd posexplode + explode expansion (see the
    // minhash pin above for the cap-filter matching note)
    val genIdx    = plan.indexOf("Generate posexplode(members")
    val capIdx    = "size\\(members#\\d+, false\\) >= 2".r
      .findFirstMatchIn(plan).map(_.start).getOrElse(-1)
    assert(genIdx >= 0 && capIdx > genIdx,
      s"expected pair expansion above the members size-cap filter:\n$plan")
  }

  test("index-served BM25 prunes the token stream to the query terms below the aggregates") {
    val toks = Tokenize.tokens(docs, "text", Seq("doc_id"))
    val bm = graft.operators.Search.bm25Indexed(
      InvertedIndex.tfPostings(toks), InvertedIndex.docLengths(toks), Seq("spark", "vector"))
    val plan = bm.queryExecution.executedPlan.toString
    // Catalyst must push the word IN (...) filter below BOTH tf-postings
    // aggregates into the term-pruned token stream scan side
    val aggIdx = plan.lastIndexOf("HashAggregate")
    assert(plan.contains("graft_clean_token") && aggIdx >= 0, s"unexpected plan:\n$plan")
    val inIdx = plan.indexOf(" IN (spark,vector)")
    assert(inIdx > 0, s"word IN filter must appear in the plan:\n$plan")
  }

  test("bucketed range join plans as a hash equi-join, never a nested loop") {
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select(col("o_orderkey"), col("o_totalprice"))
    val bands = spark.range(0, 20).toDF("band_id")
      .withColumn("lo", col("band_id").cast("double") * 25000.0)
      .withColumn("hi", col("lo") + 40000.0)
    val naive = orders.join(bands,
      col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
    assert(naive.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"),
      "the inequality-only join should demonstrate the nested-loop plan the bucketed form avoids")
    val bucketed = graft.operators.RangeJoin.bucketedRangeJoin(
      orders, bands, "o_totalprice", "lo", "hi", bucketWidth = 25000.0)
    val plan = bucketed.queryExecution.executedPlan.toString
    assert(plan.contains("HashJoin"), s"bucketed range join must hash-join on the bucket:\n$plan")
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      s"bucketed range join must not nested-loop:\n$plan")
    // and the two formulations agree
    assert(bucketed.count() == naive.count())
  }

  test("AQE splits a hot-key join partition at runtime (skew=true in the final plan)") {
    // the runtime half of the skew story: Salting is the declarative fix
    // (q_token_freq_salted); AQE's OptimizeSkewedJoin is the automatic
    // one — pin that it actually fires on a skewed sort-merge join
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> scala.util.Try(conf.get(k)).toOption).toMap
    try {
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      // one key owns 75% of the left side
      val left = spark.range(0, 40000)
        .select(when(col("id") < 30000, lit(7L)).otherwise(col("id") % 1000).as("k"),
          col("id").as("v"))
      val right = spark.range(0, 2000).select((col("id") % 1000).as("k"), col("id").as("w"))
      val joined = left.join(right, "k")
      // execute THIS df's queryExecution (count() would build a separate
      // plan and leave this one un-finalized)
      joined.collect()
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"OptimizeSkewedJoin should have split the hot partition:\n$finalPlan")
    } finally {
      saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
    }
  }

  test("interval-overlap join: equi-join on cells, == the naive inequality join, no dup pairs") {
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val a = orders.where(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey").as("a_id"), (col("o_custkey") % 10).as("k"),
        ((col("o_orderkey") * 37) % 500).cast("double").as("a_lo"))
      .withColumn("a_hi", col("a_lo") + lit(1.0) + (col("a_id") % 20).cast("double"))
    val b = orders.where(col("o_orderkey") % 3 === 1)
      .select(col("o_orderkey").as("b_id"), (col("o_custkey") % 10).as("k"),
        ((col("o_orderkey") * 53) % 500).cast("double").as("b_lo"))
      .withColumn("b_hi", col("b_lo") + lit(1.0) + (col("b_id") % 13).cast("double"))
    val bucketed = graft.operators.RangeJoin
      .overlapJoin(a, b, Seq("k"), "a_lo", "a_hi", "b_lo", "b_hi", bucketWidth = 16.0)
    val plan = bucketed.queryExecution.executedPlan.toString
    assert(plan.contains("HashJoin") && !plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      s"overlap join must be a hash equi-join on (keys, cell):\n$plan")
    // exactness incl. the one-cell-claims-each-pair dedup: pair sets equal
    val naive = a.join(b,
      a("k") === b("k") && col("a_lo") < col("b_hi") && col("b_lo") < col("a_hi"))
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val got = bucketed.select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == got.toSet.size, "bucketization must not duplicate a pair")
    assert(got.toSet == naive.toSet && got.length == naive.length,
      s"pair sets differ: got ${got.length}, naive ${naive.length}")
  }

  test("interval-overlap join fuzz: random intervals (incl. empty) == naive join, 3 widths") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def mk(n: Int, pre: String) = (1 to n).map { i =>
      val lo = rnd.nextInt(200).toDouble
      // ~10% deliberately EMPTY (hi <= lo) — they must match nothing
      val hi = if (rnd.nextInt(10) == 0) lo - 1.0 else lo + 1.0 + rnd.nextInt(30)
      (i.toLong, rnd.nextInt(4).toLong, lo, hi)
    }.toDF(s"${pre}_id", "k", s"${pre}_lo", s"${pre}_hi")
    val a = mk(80, "a").localCheckpoint(true)
    val b = mk(60, "b").localCheckpoint(true)
    val naive = a.join(b, Seq("k"))
      .where(col("a_lo") < col("b_hi") && col("b_lo") < col("a_hi") &&
        col("a_hi") > col("a_lo") && col("b_hi") > col("b_lo"))
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (w <- Seq(4.0, 16.0, 100.0)) {
      val got = graft.operators.RangeJoin
        .overlapJoin(a, b, Seq("k"), "a_lo", "a_hi", "b_lo", "b_hi", bucketWidth = w)
        .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(got.length == got.toSet.size, s"width $w duplicated a pair")
      assert(got.toSet == naive, s"width $w: ${got.length} vs naive ${naive.size}")
    }
  }

  test("jaro linkage: distinct-name relation broadcasts, similarity inside codegen") {
    val part = spark.read.parquet("/root/testdata/sf0.001/part.parquet")
    val linked = graft.operators.Linkage.nameMatches(part, "p_name")
    val plan = linked.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"vocab-sized name relation must broadcast:\n$plan")
    assert(plan.contains("graft_jaro_winkler"),
      s"the native expression must appear in the plan (not a UDF):\n$plan")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("Invoke"),
      "no interpreted UDF path in the scorer")
  }

  test("label audit: foreign-centroid argmax is a partial max_by, never a window") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val audited = graft.operators.Similarity.labelAudit(emb)
    val plan = audited.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"no window in the argmax path:\n$plan")
    assert(plan.contains("partial_max_by") || plan.contains("max_by"),
      s"argmax as an aggregate:\n$plan")
    assert(plan.contains("BroadcastExchange"),
      s"the (labels x dim) centroid relation must broadcast:\n$plan")
  }

  test("retrieval eval: rankings flow through the bounded partial top-k, not a window") {
    val toks = Tokenize.tokens(docs, "text", Seq("doc_id"))
    val eval = graft.operators.Search.retrievalEval(
      toks, Seq(1 -> Seq("spark", "query")), k = 10)
    val plan = eval.queryExecution.executedPlan.toString
    assert(plan.contains("cos_topk"), s"bounded top-k aggregate in the ranking path:\n$plan")
    assert(!plan.contains("Window"), s"no row_number window over matched docs:\n$plan")
  }

  test("corpus-clean windows never put a whole language in one task") {
    // every document-sized window must partition by (lang, <subdivider>);
    // windows partitioned by lang ALONE are allowed only over metadata —
    // i.e. above an aggregate that already collapsed the corpus
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.window.WindowExec
    def assertBounded(df: org.apache.spark.sql.DataFrame, label: String): Unit = {
      val windows = df.queryExecution.sparkPlan.collect { case w: WindowExec => w }
      assert(windows.nonEmpty, s"$label: expected window operators in the plan")
      windows.foreach { w =>
        val bounded = w.partitionSpec.length >= 2 ||
          w.child.collectFirst {
            case a: BaseAggregateExec if a.groupingExpressions.length >= 2 => a
          }.nonEmpty
        assert(bounded,
          s"$label: window partitioned by ${w.partitionSpec.mkString(",")} runs " +
            s"directly over the corpus — one task per language:\n${df.queryExecution.sparkPlan}")
      }
    }
    val docs01 = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assertBounded(graft.operators.CorpusClean.qualityBuckets(docs01), "qualityBuckets")
    assertBounded(
      graft.operators.CorpusClean.mixtureSample(docs01, Map("en" -> 500L, "de" -> 200L)),
      "mixtureSample")
    assertBounded(graft.operators.Packing.packByOffset(docs01, budget = 2048), "packByOffset")
  }

  test("IVF-PQ ADC search: broadcast lookups, bounded top-k, no window") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val codebooks = (0 until 4)
      .map(sub => emb.where(col("vec_id") < 8).select(
        lit(sub).as("sub"), col("vec_id").as("code_id"),
        slice(col("embedding"), sub * 16 + 1, 16).as("cw")))
      .reduce(_ unionAll _)
    val q = graft.operators.Similarity.ivfpqSearch(
      emb.where(col("vec_id") >= 18), emb.where(col("vec_id") < 8), codebooks,
      emb.where(col("vec_id").between(8, 17)), k = 5, nprobe = 2, m = 4, subDim = 16)
    val plan = q.queryExecution.executedPlan.toString
    // ranking never falls back to a per-query window over the candidate
    // stream — both the probe and the final top-k are the bounded
    // cos_topk partial aggregate
    assert(!plan.contains("Window"), s"ADC search must not use a window:\n$plan")
    assert(plan.contains("cos_topk"), s"expected bounded top-k aggregates:\n$plan")
    // the query-side lookups (codebooks twice, distance table, probed
    // cells) all broadcast — the encoded corpus relation is never
    // re-shuffled to meet them
    assert("BroadcastExchange".r.findAllIn(plan).length >= 3,
      s"distance table / probe / codebook joins must broadcast:\n$plan")
    // corpus-sized exchanges stay bounded: code argmin, routing argmax,
    // code⋈cell align, per-candidate sum, final top-k
    assert(exchanges(q) <= 6, s"too many shuffles (${exchanges(q)}):\n$plan")
  }

  test("broadcast dim join keeps the fact side shuffle-free") {
    val orders   = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val customer = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    val joined = orders.join(broadcast(customer),
      orders("o_custkey") === customer("c_custkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
    assert(exchanges(joined) == 0, s"fact side must not shuffle:\n$plan")
  }
}
