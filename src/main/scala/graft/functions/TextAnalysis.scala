package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Materialize.Pinned
import graft.operators.Tokenize

/** Text-analysis operators for a large-scale training-data pipeline:
  * token counting, quality scoring, language ID, shingling and document
  * fingerprinting. All pure codegen'd Column expressions (no UDFs), each
  * designed to be oracle-expressible in ANSI SQL.
  *
  * Everything here is per-row (narrow): at 100 TB these run map-side inside
  * the parquet scan stage with zero shuffle.
  */
object TextAnalysis {

  /** Whitespace token count (splitting an empty string yields 1, matching
    * SQL regexp_split semantics on both engines).
    */
  def wsTokenCount(text: Column): Column = size(split(text, "\\s+"))

  /** BPE-ish subword proxy: maximal alpha or digit runs (a cheap, portable
    * stand-in for a real subword tokenizer's token count).
    */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+"), lit(0)))

  /** Harman S-stemmer (Harman, JASIS 1991 "How effective is
    * suffixing?"): the three-rule English plural stripper — first match
    * wins, applied ONCE:
    *
    *   1. …ies (not …eies/…aies)  → …y
    *   2. …es  (not …aes/…ees/…oes) → …e
    *   3. …s   (not …us/…ss)        → drop the s
    *
    * The conservative index-normalization stemmer (Porter's heavy
    * conflations famously hurt as often as they help; the S-stemmer is
    * the documented safe default) — merges query/queries, table/tables
    * without touching corpus/genus/class. Pure codegen'd Column over
    * CLEANED tokens; both regex dialects agree on these anchored
    * character-class patterns, so the oracle replays it verbatim.
    */
  def sStem(w: Column): Column =
    when(w.rlike("[^ae]ies$"), regexp_replace(w, "ies$", "y"))
      .when(w.rlike("[^aeo]es$"), regexp_replace(w, "es$", "e"))
      .when(w.rlike("[^us]s$"), regexp_replace(w, "s$", ""))
      .otherwise(w)

  /** Default English-ish stopword list used by the quality score. */
  val Stopwords: Seq[String] = Seq("the", "a", "an", "and", "of", "to", "in", "is", "it", "for")

  /** Add quality metrics — n_ws, n_alpha, stop_ratio, score — with the token
    * array materialized once per row (see shinglesFromToks perf note).
    *
    * score in [0,1]:
    *   0.4 * min(nWs/100, 1)   — enough content
    * + 0.3 * alphaRatio        — mostly clean words
    * + 0.3 * (1 - stopRatio)   — not boilerplate
    */
  def withQualityMetrics(df: DataFrame, textCol: String): DataFrame = {
    val toks = col("__toks")
    df.withColumn("__toks", Tokenize.tokenArray(col(textCol)))
      .withColumn("n_ws", wsTokenCount(col(textCol)))
      .withColumn("n_alpha", size(toks))
      .withColumn(
        "stop_ratio",
        when(size(toks) === 0, lit(0.0))
          .otherwise(size(filter(toks, w => w.isin(Stopwords: _*))).cast("double")
            / size(toks).cast("double")))
      .withColumn(
        "score",
        lit(0.4) * least(col("n_ws").cast("double") / 100.0, lit(1.0)) +
          lit(0.3) * (col("n_alpha").cast("double") / greatest(col("n_ws").cast("double"), lit(1.0))) +
          lit(0.3) * (lit(1.0) - col("stop_ratio")))
      .drop("__toks")
  }

  /** Corpus-derived unigram log-probability score — the SQL-expressible
    * core of the LM-based quality filters (CCNet-style perplexity): build
    * the unigram distribution FROM the corpus itself (one token-count
    * aggregate), then score each document by the mean ln p(token) —
    * rare/garbage vocabulary drags the mean down, boilerplate common-word
    * soup pulls it up; both tails get filtered. Returns
    * (idCol, n_tok, mean_lp); callers round mean_lp for the oracle.
    *
    * Scale: two corpus aggregates (vocab, total) + one join on `word` —
    * Spark picks broadcast vs shuffle by vocab size (no hint: a web-scale
    * vocabulary outgrows a broadcast), and the per-doc mean is a partial
    * aggregate. p = wf/total is a ratio of exact integers, so the doubles
    * are engine-reproducible up to summation order (4-dp rounding).
    */
  def unigramLogProbScore(tokens: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val vocab = tokens.groupBy(col("word")).agg(count(lit(1)).as("wf"))
    val total = tokens.agg(count(lit(1)).as("tot"))
    tokens
      .join(vocab, Seq("word"))
      .crossJoin(broadcast(total))
      .withColumn("lp", log(col("wf").cast("double") / col("tot").cast("double")))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tok"), avg(col("lp")).as("mean_lp"))
  }

  /** Disjoint per-language marker words for the n-gram language-ID heuristic. */
  val LangMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "is", "of"),
    "fr" -> Seq("le", "et", "dans", "les"),
    "de" -> Seq("der", "und", "nicht", "das"),
    "es" -> Seq("el", "y", "que", "los"))

  /** Language-ID over a token stream: argmax of marker-word hits with a
    * deterministic tie-break (hits DESC, lang ASC); docs with zero marker
    * hits get "unknown". `docs` needs (idCol, textCol).
    */
  def langId(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val markerOf = LangMarkers.foldLeft(lit(null).cast("string")) {
      case (acc, (lang, words)) => when(col("word").isin(words: _*), lit(lang)).otherwise(acc)
    }
    val hits = Tokenize
      .tokens(docs, textCol, Seq(idCol))
      .withColumn("ml", markerOf)
      .where(col("ml").isNotNull)
      .groupBy(col(idCol), col("ml"))
      .agg(count(lit(1)).as("hits"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(desc("hits"), asc("ml"))
    val best = hits
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col(idCol), col("ml").as("pred0"))
    docs
      .select(col(idCol))
      .join(best, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("pred0"), lit("unknown")).as("pred_lang"))
  }

  /** Flesch–Kincaid grade level (Kincaid et al. 1975) from deterministic
    * structural counts — the classic readability feature of quality
    * pipelines (alongside the Gopher/CCNet families): sentences = runs
    * split on [.!?]+ (non-blank), words = cleaned alpha tokens, syllables
    * = vowel-group runs [aeiouy]+ per word (the standard cheap syllable
    * proxy). grade = 0.39·(words/sentences) + 11.8·(syllables/words) −
    * 15.59. Everything is an integer count until two final divisions, so
    * the score replays exactly; zero guards clamp sentences/words at 1.
    *
    * Map-side only — three codegen'd expressions per row, no shuffle.
    *
    * Returns (idCol, n_sentences, n_words, n_syllables, fk_r).
    */
  def readability(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = Tokenize.tokenArray(col(textCol))
    val sentences = greatest(lit(1),
      size(filter(split(col(textCol), "[.!?]+"), s => length(trim(s)) > 0)))
    val words = greatest(lit(1), size(toks))
    val syllables = aggregate(toks, lit(0),
      (acc, w) => acc + size(regexp_extract_all(w, lit("[aeiouy]+"), lit(0))))
    docs.select(
      col(idCol),
      sentences.cast("long").as("n_sentences"),
      size(toks).cast("long").as("n_words"),
      syllables.cast("long").as("n_syllables"))
      .withColumn("fk_r", Portable.pround(
        lit(0.39) * (greatest(lit(1L), col("n_words")).cast("double") / col("n_sentences"))
          + lit(11.8) * (col("n_syllables").cast("double") / greatest(lit(1L), col("n_words")))
          - lit(15.59), 4))
  }

  /** Code-switching (mixed-language document) detector: [[langId]] run
    * independently on each HALF of the text; a clean monolingual doc
    * predicts the same language twice, a concatenation of two languages
    * (scraped page + boilerplate, interleaved translations, wrong-merge
    * artifacts) disagrees. The doc-level language label hides exactly
    * this failure — a 50/50 en/fr doc still gets ONE confident label —
    * and mixed docs poison language-filtered training splits.
    *
    * The split is by character midpoint (cheap, deterministic, identical
    * cross-engine); a word cut in half at the boundary loses at most one
    * marker token per side. Costs two langId passes over half the text
    * each — same total token volume as one pass.
    *
    * Returns (idCol, lang_head, lang_tail, mixed) — mixed = 1 when the
    * halves disagree (unknown counts as a language: a half with no
    * markers disagreeing with a confident half IS suspicious).
    */
  def codeSwitch(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val half = (length(col(textCol)) / 2).cast("int")
    val head = docs.select(col(idCol),
      col(textCol).substr(lit(1), half).as(textCol))
    val tail = docs.select(col(idCol),
      col(textCol).substr(half + 1, length(col(textCol))).as(textCol))
    langId(head, idCol, textCol).withColumnRenamed("pred_lang", "lang_head")
      .join(langId(tail, idCol, textCol).withColumnRenamed("pred_lang", "lang_tail"), Seq(idCol))
      .withColumn("mixed", (col("lang_head") =!= col("lang_tail")).cast("int"))
  }

  /** Order-preserving word k-gram shingles (distinct) from an ALREADY
    * MATERIALIZED token-array column. Short-but-nonempty docs (<k tokens)
    * collapse to a single whole-document shingle so every real doc
    * fingerprints; docs with ZERO surviving tokens get an EMPTY shingle set —
    * collapsing them to [""] would hand every token-less document an
    * identical signature and make unrelated numeric/punctuation-only docs
    * "duplicates" of each other.
    *
    * PERFORMANCE: `toks` must be a bound column reference (use
    * [[withShingles]]), not an inline expression tree — `slice(toks, i, k)`
    * runs once per position inside the lambda, and an inlined tokenizer
    * expression would be re-evaluated O(positions) times per row (measured
    * 40x slowdown at sf0.1 before this was split out).
    */
  /** Hashed-feature linear quality scoring — the fastText-style shape
    * (hash token → bucket, sum the buckets' learned weights, squash) that
    * model-based corpus filters run over every document at scale. Weights
    * here come from a deterministic closed-form table (bucket b ↦
    * (b mod 101 − 50)/50, a fixed pseudo-random spread in [−1, 1]) rather
    * than a trained artifact — the container has no model file, and the
    * point of the operator is the DATAFLOW: hashing, lookup, and scoring
    * all happen inside ONE codegen'd expression per row. Swapping in real
    * weights is a broadcast `element_at(lit(weights), h+1)` with the same
    * plan shape.
    *
    * Returns the mean weight over the doc's cleaned tokens (the linear
    * margin; 0.0 for token-less docs). `transform`+`aggregate` fold over
    * the token array — no explode, no UDF, no shuffle: the corpus never
    * expands to token rows. The bucket is the first 8 md5 hex chars mod
    * `buckets`; the weight sum is INTEGER until one final division, so
    * partial-order fp drift can't occur and the DuckDB oracle agrees
    * exactly.
    */
  def hashedLinearScore(text: Column, buckets: Int = 512): Column = {
    val toks = Tokenize.tokenArray(text)
    val wInt = (w: Column) =>
      (graft.functions.HexSlice.u(md5(w), 1, 8) % buckets) % 101 - 50L
    val n = size(toks)
    // coalesce makes the column STATICALLY NON-NULLABLE (null text scores
    // 0.0, the same convention as token-less docs). This is a plan fix as
    // much as a semantic one: consumers that null-filter their score
    // column (rocAuc, conformalCoverage) otherwise push an isnotnull
    // predicate to the scan, where NullPropagation rewrites it into a
    // CASE that re-evaluates this whole expression per row — with a
    // non-nullable column Catalyst folds the filter away statically
    // (r14; seen in the r13/r14 q_auc and q_conformal audited plans).
    coalesce(
      when(n === 0, lit(0.0)).otherwise(
        aggregate(toks, lit(0L), (acc, w) => acc + wInt(w)).cast("double")
          / (lit(50.0) * n.cast("double"))),
      lit(0.0))
  }

  /** TRAINED hashed-feature logistic regression — the full-batch
    * gradient-descent sibling of [[hashedLinearScore]]'s fixed-table
    * scorer: the GPT-3/WebText-style quality-classifier recipe (hash
    * n-gram features, fit a linear model on weak labels, filter by
    * margin), trained INSIDE the engine so the filter's weights come
    * from the corpus being curated instead of an external model file.
    * `rounds` full-batch GD rounds on ln-loss: w ← w − η·∇/n with
    * ∇_b = Σ_docs cnt_db·(σ(margin_d) − y_d).
    *
    * Integer-exact replay (the [[graft.operators.Similarity]] lloydStep
    * discipline, taken further): weights live in MICRO units (1e-6) as
    * integers; margins are bias + Σ cnt·w — exact 64-bit sums in any
    * order; the sigmoid is evaluated once per doc on the identical
    * double (micro·1e-6) and its output immediately re-quantized to
    * micro ints (floor(σ·1e6 + 0.5)), so gradients are again exact
    * integer sums and the oracle replays every round bit-for-bit. The
    * only cross-engine float op is exp() on identical inputs — the
    * q_survival/q_eval_bleu precedent — and its last-ulp noise is
    * absorbed twice (p-quantization, update-quantization) before it can
    * reach a decision.
    *
    * Scale shape: the corpus reduces ONCE to the (doc, bucket) count
    * relation + the label relation (both checkpointed); each round is
    * one broadcast join against the ≤buckets-row weight relation, one
    * per-doc margin aggregate, one gradient aggregate, and a
    * buckets-sized driver collect (the BPE-argmax bounded-state
    * pattern). The corpus text is never re-tokenized.
    *
    * Returns (iter, bucket, w_micro) — bucket −1 is the bias; the
    * artifact is all-integer. Serving a trained round is
    * [[hashedLinearScore]]'s plan with these weights broadcast.
    */
  /** [[logregTrain]]'s input reduction in LAZY form (the real loop
    * checkpoints both): the (doc, bucket) feature-count relation and the
    * 0/1 label relation — the corpus is tokenized exactly once. */
  def logregFeaturePlan(
      docs: DataFrame,
      label: Column,
      buckets: Int = 64,
      idCol: String = "doc_id",
      textCol: String = "text"): (DataFrame, DataFrame) = {
    val base = docs.select(
      col(idCol), label.cast("boolean").as("__yb"),
      Tokenize.tokenArray(col(textCol)).as("__toks"))
    val feats = base
      .select(col(idCol), explode(col("__toks")).as("__w"))
      .withColumn("__b",
        graft.functions.HexSlice.u(md5(concat(lit("lrq:"), col("__w"))), 1, 15) % buckets)
      .groupBy(col(idCol), col("__b"))
      .agg(count(lit(1)).as("__cnt"))
    val labels = base
      .select(col(idCol), when(col("__yb"), 1L).otherwise(0L).as("__y"))
    (feats, labels)
  }

  /** [[logregTrain]]'s round body, margin → quantized-error half: bias +
    * Σ cnt·w per doc (exact micro ints) through the σ quantization. The
    * error term is integer from here on, so every downstream gradient
    * sum is exact in any order. Extracted so the plan audit prints the
    * loop-body shape (broadcast weight join, per-doc partial agg). */
  def logregErrors(
      feats: DataFrame,
      labels: DataFrame,
      wDf: DataFrame,
      bias: Long,
      idCol: String = "doc_id"): DataFrame = {
    val margins = labels
      .join(
        feats.join(broadcast(wDf), Seq("__b"), "left_outer")
          .groupBy(col(idCol))
          .agg(sum(col("__cnt") * coalesce(col("__wm"), lit(0L))).as("__mw")),
        Seq(idCol), "left_outer")
      .select(col(idCol), col("__y"),
        (lit(bias) + coalesce(col("__mw"), lit(0L))).as("__mm"))
    margins
      .select(col(idCol),
        (floor(lit(1.0) / (lit(1.0) + exp(col("__mm").cast("double") * lit(-1e-6)))
           * lit(1e6) + lit(0.5)).cast("long")
         - col("__y") * lit(1000000L)).as("__err"))
  }

  /** [[logregTrain]]'s round body, gradient half: per-bucket Σ cnt·err ∪
    * the bias gradient (bucket −1) in ONE partial-agg shuffle. */
  def logregGradients(
      feats: DataFrame,
      errs: DataFrame,
      idCol: String = "doc_id"): DataFrame =
    feats.join(errs, Seq(idCol))
      .select(col("__b"), (col("__cnt") * col("__err")).as("__t"))
      .unionAll(errs.select(lit(-1L).as("__b"), col("__err").as("__t")))
      .groupBy(col("__b"))
      .agg(sum(col("__t")).as("__gb"))

  def logregTrain(
      docs: DataFrame,
      label: Column,
      rounds: Int = 3,
      buckets: Int = 64,
      lr: Double = 0.1,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(rounds >= 1, s"rounds ($rounds) must be >= 1")
    require(buckets >= 2, s"buckets ($buckets) must be >= 2")
    val spark = docs.sparkSession
    import spark.implicits._
    val (featsLazy, labelsLazy) = logregFeaturePlan(docs, label, buckets, idCol, textCol)
    val feats = featsLazy.pin()
    val labels = labelsLazy.pin()
    val nDocs = labels.count()
    var bias = 0L
    var w = Map.empty[Long, Long]
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
    for (it <- 1 to rounds) {
      val wDf = w.toSeq.toDF("__b", "__wm")
      val errs = logregErrors(feats, labels, wDf, bias, idCol).pin()
      // one shuffle, one action: per-bucket gradients ∪ the bias gradient
      val gAll = logregGradients(feats, errs, idCol)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      def upd(old: Long, g: Long): Long =
        old - math.floor(lr * g.toDouble / nDocs + 0.5).toLong
      bias = upd(bias, gAll.getOrElse(-1L, 0L))
      w = (gAll - (-1L)).map { case (b, g) => b -> upd(w.getOrElse(b, 0L), g) }
      out ++= w.toSeq.sortBy(_._1).map { case (b, wm) => (it, b, wm) }
      out += ((it, -1L, bias))
    }
    out.toSeq.toDF("iter", "bucket", "w_micro")
  }

  def shinglesFromToks(toks: Column, k: Int): Column = {
    val grams = transform(
      sequence(lit(1), size(toks) - (k - 1)),
      i => concat_ws(" ", slice(toks, i, lit(k))))
    array_distinct(
      when(size(toks) === 0, array().cast("array<string>"))
        .when(size(toks) >= k, grams)
        .otherwise(array(concat_ws(" ", toks))))
  }

  /** Add a distinct-k-gram-shingles column, materializing the token array
    * once per row on the way.
    */
  def withShingles(df: DataFrame, textCol: String, k: Int, out: String = "shingles"): DataFrame =
    df.withColumn("__toks", Tokenize.tokenArray(col(textCol)))
      .withColumn(out, shinglesFromToks(col("__toks"), k))
      .drop("__toks")

  /** Raw (non-distinct) k-gram shingles — same enumeration as
    * [[shinglesFromToks]] but KEEPING duplicates; repetition analysis needs
    * the multiplicities the dedup path throws away.
    */
  def rawShinglesFromToks(toks: Column, k: Int): Column = {
    val grams = transform(
      sequence(lit(1), size(toks) - (k - 1)),
      i => concat_ws(" ", slice(toks, i, lit(k))))
    when(size(toks) === 0, array().cast("array<string>"))
      .when(size(toks) >= k, grams)
      .otherwise(array(concat_ws(" ", toks)))
  }

  /** Repetition quality metrics (the Gopher-rules family): total k-gram
    * count, distinct k-gram count, and `dup_frac = 1 − distinct/total` —
    * the duplicate-n-gram fraction that flags boilerplate and
    * degenerate/looping text. Map-side only, integer-derived doubles
    * (engine-reproducible), rounded to 4 decimals.
    */
  def withRepetitionMetrics(df: DataFrame, textCol: String, k: Int = 3): DataFrame =
    df.withColumn("__toks", Tokenize.tokenArray(col(textCol)))
      .withColumn("__rsh", rawShinglesFromToks(col("__toks"), k))
      .withColumn("n_sh", size(col("__rsh")).cast("bigint"))
      .withColumn("n_uniq", size(array_distinct(col("__rsh"))).cast("bigint"))
      .withColumn(
        "dup_frac",
        Portable.pround(
          when(col("n_sh") === 0, lit(0.0))
            .otherwise(lit(1.0) - col("n_uniq").cast("double") / col("n_sh").cast("double")),
          4))
      .drop("__toks", "__rsh")

  /** Benchmark decontamination: for each candidate document, how many
    * distinct k-gram shingles it shares with the (small, broadcast)
    * benchmark set — docs with `n_overlap > 0` leak evaluation data into
    * training and get dropped. The join key is the shingle, the benchmark
    * side is broadcast; the corpus is never self-joined.
    */
  def contaminationOverlap(
      docs: DataFrame,
      benchmark: DataFrame,
      k: Int = 5,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // explode_outer: plain explode would trigger InferFiltersFromGenerate
    // and re-evaluate the whole shingle expression in a pushed scan filter;
    // the equi-join then drops the null rows empty docs produce
    val d = withShingles(docs, textCol, k, "__sh")
      .select(col(idCol), explode_outer(col("__sh")).as("s"))
    val bench = withShingles(benchmark, textCol, k, "__sh")
      .select(explode_outer(col("__sh")).as("s"))
      .distinct()
    d.join(broadcast(bench), Seq("s"))
      .groupBy(col(idCol))
      .agg(countDistinct(col("s")).as("n_overlap"))
  }

  /** The decontamination ACTION: drop every document whose k-gram overlap
    * with the benchmark reaches `maxOverlap` — [[contaminationOverlap]]
    * reports; this enforces. Kept docs ride through with their overlap
    * count (0 for docs sharing nothing), so the output doubles as the
    * audit trail of what survived and how close it sat to the line.
    *
    * Same scale shape as the report: benchmark shingles broadcast, one
    * shingle equi-join bounded by benchmark hits, and the corpus
    * re-emerges via a left join on ids — never a second tokenization.
    */
  def decontaminate(
      docs: DataFrame,
      benchmark: DataFrame,
      k: Int = 5,
      maxOverlap: Int = 1,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(maxOverlap >= 1, s"maxOverlap ($maxOverlap) must be >= 1")
    val overlap = contaminationOverlap(docs, benchmark, k, idCol, textCol)
    docs
      .join(overlap, Seq(idCol), "left_outer")
      .withColumn("n_overlap", coalesce(col("n_overlap"), lit(0L)))
      .where(col("n_overlap") < maxOverlap)
      .select(col(idCol), col("n_overlap"))
  }

  /** Rolling-hash document fingerprint: lexicographic min of md5(shingle) —
    * a winnowing-style content signature, portable across engines because it
    * is pure md5-hex string ordering. Returns df + `out` column.
    */
  def withFingerprint(df: DataFrame, textCol: String, k: Int = 5, out: String = "fp"): DataFrame =
    withShingles(df, textCol, k, "__sh")
      .withColumn(out, array_min(transform(col("__sh"), s => md5(s))))
      .drop("__sh")

  /** Bloom-filter decontamination — the constant-memory fast path in front
    * of [[contaminationOverlap]]'s exact join: sketch the (small) benchmark
    * shingle set into a Bloom filter once, broadcast it, and flag every
    * corpus document with at least one possibly-contaminated shingle.
    *
    * Guarantees: NO false negatives (every truly contaminated doc is
    * flagged — Bloom filters never miss an inserted element), false
    * positives bounded by `fpp` per probe. At 100 TB this replaces a
    * shuffle-join of the full corpus shingle stream with a map-side probe
    * of a few MB of broadcast bits; the exact join then runs only over the
    * flagged sliver. Returns (idCol, n_maybe) for flagged docs.
    */
  def bloomDecontaminate(
      docs: DataFrame,
      benchmark: DataFrame,
      k: Int = 5,
      fpp: Double = 0.01,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    val benchShingles = withShingles(benchmark, textCol, k, "__sh")
      .select(explode_outer(col("__sh")).as("s"))
      .where(col("s").isNotNull)
      .distinct()
    val n  = math.max(benchShingles.count(), 1L)
    val bf = benchShingles.stat.bloomFilter("s", n, fpp)
    val bc = spark.sparkContext.broadcast(bf)
    import spark.implicits._
    withShingles(docs, textCol, k, "__sh")
      .select(col(idCol).cast("long"), col("__sh"))
      .as[(Long, Seq[String])]
      // membership probes against broadcast bits are genuine per-row
      // imperative logic (no Column form exists for BloomFilter.mightContain)
      .flatMap { case (id, sh) =>
        val m = sh.count(bc.value.mightContainString)
        if (m > 0) Some((id, m)) else None
      }
      .toDF(idCol, "n_maybe")
  }

  /** Character-distribution entropy of the a–z letters in `textCol`
    * (nats), added as column `out`: the gibberish detector — natural
    * language sits near 2.9–3.0, keyboard mash / base64 blobs /
    * single-char repetition fall far outside. Zero alphabetic
    * characters → 0.0.
    *
    * No explode, no shuffle, no UDF — and, critically, every
    * intermediate is BOUND as a projection column. The first draft
    * composed one scalar Column: each of the 26 −p·ln p terms then
    * embedded the full 26-count total-subtree, ~700 string passes per
    * row with no CSE — measured **96 s** at sf0.1 vs ~2 s bound (the
    * same inlined-tree trap the shingle pipeline documents). The second
    * form — 26 bound `translate` length-difference columns — was correct
    * and linear but still traversed every document 26× (4.5 s at sf0.1,
    * the 4th-slowest query for a pure map-side expression); counting now
    * runs in the native one-pass [[graft.plans.CharClassCounts]]
    * expression (ONE byte loop per document, codegen'd), and the 26
    * −p·ln p terms are cheap `element_at` arithmetic over the bound
    * count array. The Σ fold stays LITERAL-ordered a→z, so Spark and
    * DuckDB sum bit-identically and the oracle rounds at 6 dp without
    * risk (counts are integers — exact in doubles under any order, and
    * the term order is preserved).
    */
  def withCharEntropy(df: DataFrame, textCol: String, out: String = "entropy"): DataFrame = {
    val cc = org.apache.spark.sql.GraftBridge.column(
      graft.plans.CharClassCounts(
        org.apache.spark.sql.GraftBridge.expression(col(textCol))))
    val idx = 1 to 26
    def cnt(i: Int) = element_at(col("__cc"), i).cast("double")
    val withN = df
      .withColumn("__cc", cc)
      .withColumn("__n", idx.map(cnt).reduce(_ + _))
    val terms = idx.map { i =>
      when(cnt(i) > 0, -(cnt(i) / col("__n")) * log(cnt(i) / col("__n"))).otherwise(lit(0.0))
    }
    withN
      .withColumn(out, when(col("__n") === 0, lit(0.0)).otherwise(terms.reduce(_ + _)))
      .drop("__cc", "__n")
  }

  /** Bigram-LM quality score — the CCNet/KenLM-shaped filter one level up
    * from [[unigramLogProbScore]]: train an add-one-smoothed bigram model
    * on the corpus ITSELF, then score every document by its mean bigram
    * log-probability ln((c(w₁w₂)+1) / (c(w₁)+V)). Low scores mark
    * incoherent word salads that unigram statistics can't see (every
    * word common, no two adjacent words ever co-occurring).
    *
    * Bigrams are strict adjacency (a one-token doc has none — the
    * whole-doc collapse the SHINGLE path applies would fabricate a fake
    * bigram here). Docs with <2 tokens surface with n_big=0, score 0.
    *
    * Scale shape: counts are two corpus-keyed aggregates (bigram,
    * unigram) joined back onto the bigram stream — the same
    * join-to-counts plan [[unigramLogProbScore]] audits; V is a scalar
    * broadcast. No window, no driver loop; every relation is token- or
    * vocabulary-sized.
    */
  def bigramLogProbScore(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val toks = docs
      .select(col(idCol), Tokenize.tokenArray(col(textCol)).as("__toks"))
    // materialized ONCE: the corpus count (c2) and the scoring join both
    // consume the bigram stream, and each lazy reference would re-run
    // tokenize + bigram expansion over the corpus
    val big = toks
      .select(col(idCol),
        explode(when(size(col("__toks")) >= 2,
          transform(sequence(lit(1), size(col("__toks")) - 1),
            i => struct(
              element_at(col("__toks"), i).as("w1"),
              concat(element_at(col("__toks"), i), lit(" "),
                element_at(col("__toks"), i + 1)).as("bigram"))))
          .otherwise(array().cast("array<struct<w1:string,bigram:string>>"))).as("b"))
      .select(col(idCol), col("b.w1").as("w1"), col("b.bigram").as("bigram"))
      .pin()
    val uni = toks
      .select(explode(col("__toks")).as("w"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("n1"))
    val c2 = big.groupBy(col("bigram")).agg(count(lit(1)).as("n2"))
    val v  = uni.agg(count(lit(1)).as("vs"))
    val scored = big
      .join(c2, Seq("bigram"))
      .join(uni, big("w1") === uni("w"))
      .crossJoin(broadcast(v))
      .withColumn("lp",
        log((col("n2") + 1).cast("double") / (col("n1") + col("vs")).cast("double")))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_big"), avg(col("lp")).as("mlp"))
    docs
      .select(col(idCol))
      .join(scored, Seq(idCol), "left_outer")
      .select(
        col(idCol),
        coalesce(col("n_big"), lit(0L)).as("n_big"),
        Portable.pround(coalesce(col("mlp"), lit(0.0)), 4).as("mean_lp"))
  }

  /** Interpolated Kneser–Ney bigram score — the smoothing the LM-filter
    * literature actually runs (CCNet's KenLM is modified KN; Chen &
    * Goodman 1999 showed add-one is the worst of the classical family):
    *
    *   P_KN(w₂|w₁) = max(c(w₁w₂) − D, 0)/c(w₁·)
    *               + D·N₁₊(w₁·)/c(w₁·) · N₁₊(·w₂)/N₁₊(··)
    *
    * with the Ney/Essen/Kneser discount D = t₁/(t₁ + 2t₂) estimated from
    * the corpus's own bigram type counts (t₁/t₂ = types seen once/twice;
    * when a heavily duplicated corpus has NO such types the estimate is
    * 0/0 and D falls back to the conventional 0.5).
    * The continuation probability N₁₊(·w₂)/N₁₊(··) is what add-one and
    * plain interpolation both miss: "francisco" is frequent but follows
    * only "san", so its continuation mass is tiny — KN scores a doc by
    * how its word PAIRS recur across contexts, not how common the words
    * are. Against [[bigramLogProbScore]] this separates formulaic
    * boilerplate (high-frequency tokens, few distinct contexts) from
    * genuinely coherent text at the same add-one score.
    *
    * Determinism: every model quantity (c, t₁, t₂, fan-outs, type
    * totals) is an exact integer on both engines; D is `pround`ed at
    * 6 dp before use so the one derived constant binds identically; the
    * per-bigram term then runs the IDENTICAL left-associated double
    * expression on identical inputs, and the doc mean rounds at 4 dp.
    *
    * Scale shape: the token stream reduces to the bigram-TYPE relation
    * once (one shuffle, vocabulary²-bounded in theory, corpus-bounded in
    * practice); context/continuation/fan-out counts are three further
    * aggregates OVER THAT TYPE RELATION (type-sized, not corpus-sized);
    * scoring joins the counts back onto the bigram stream and reduces
    * per doc. The 1-row totals relation is the only broadcast; the
    * vocabulary-sized count relations stay shuffle joins (at 100 TB the
    * vocabulary does not broadcast). Docs with <2 tokens surface with
    * n_big=0, score 0 — same contract as [[bigramLogProbScore]].
    */
  def knBigramLogProbScore(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val toks = docs
      .select(col(idCol), Tokenize.tokenArray(col(textCol)).as("__toks"))
    // materialized ONCE: the type-count aggregate and the scoring join
    // both consume the bigram stream (bigramLogProbScore's discipline)
    val big = toks
      .select(col(idCol),
        explode(when(size(col("__toks")) >= 2,
          transform(sequence(lit(1), size(col("__toks")) - 1),
            i => struct(
              element_at(col("__toks"), i).as("w1"),
              element_at(col("__toks"), i + 1).as("w2"))))
          .otherwise(array().cast("array<struct<w1:string,w2:string>>"))).as("b"))
      .select(col(idCol), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .pin()
    // the bigram TYPE relation — everything the model needs derives from
    // it, so it too is materialized once (three consumers below)
    val c2 = big.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n2"))
      .pin()
    val ctx = c2.groupBy(col("w1"))
      .agg(sum(col("n2")).as("c1"), count(lit(1)).as("fanout"))
    val cont = c2.groupBy(col("w2")).agg(count(lit(1)).as("contw2"))
    val totals = c2.agg(
      count(lit(1)).as("btypes"),
      sum(when(col("n2") === 1, 1L).otherwise(0L)).as("t1"),
      sum(when(col("n2") === 2, 1L).otherwise(0L)).as("t2"))
    val scored = big
      .join(c2, Seq("w1", "w2"))
      .join(ctx, Seq("w1"))
      .join(cont, Seq("w2"))
      .crossJoin(broadcast(totals))
      // Ney estimate undefined when no singleton/doubleton types exist
      // (a heavily duplicated corpus) — fall back to the conventional 0.5
      .withColumn("__d", when(col("t1") + lit(2L) * col("t2") === 0L, lit(0.5))
        .otherwise(Portable.pround(
          col("t1").cast("double") / (col("t1") + lit(2L) * col("t2")).cast("double"), 6)))
      // left-associated exactly as the oracle writes it:
      // ((max(n2−D,0)/c1) + (((D·fanout)/c1)·(contw2/btypes)))
      .withColumn("lp", log(
        greatest(col("n2") - col("__d"), lit(0.0)) / col("c1") +
        col("__d") * col("fanout") / col("c1") *
          (col("contw2").cast("double") / col("btypes").cast("double"))))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_big"), avg(col("lp")).as("mlp"))
    docs
      .select(col(idCol))
      .join(scored, Seq(idCol), "left_outer")
      .select(
        col(idCol),
        coalesce(col("n_big"), lit(0L)).as("n_big"),
        Portable.pround(coalesce(col("mlp"), lit(0.0)), 4).as("mean_lp"))
  }

  /** DSIR-style hashed importance weights (Data Selection via Importance
    * Resampling, Xie et al. 2023): score every raw document by how much
    * more likely its hashed n-gram features are under a TARGET
    * distribution than under the raw-corpus distribution —
    * log w(d) = Σ_f [ln p̂_tgt(h(f)) − ln p̂_raw(h(f))] — so resampling
    * ∝ w tilts the corpus toward the target domain without a trained
    * classifier. Features are unigrams + adjacent bigrams (bag semantics,
    * multiplicity kept), hashed into `buckets` cells via the portable md5
    * hash; both distributions are add-one smoothed over the bucket space.
    *
    * Scale shape: the target-filter verdict rides the feature stream from
    * birth (features derive from docs, so it costs nothing), which makes
    * BOTH distributions fall out of ONE grouped pass — count and
    * conditional count per bucket, no join against a target-id relation
    * and no second aggregate. The stream is materialized once
    * (localCheckpoint) and scanned exactly twice: bucket counts, then the
    * per-doc score against the broadcast BUCKETS-sized log-ratio relation.
    * The only corpus-sized shuffles are that one bucket-count partial
    * aggregate and the per-doc score aggregate.
    *
    * Returns (idCol, n_feats, logw_r 4 dp); docs with no features score 0.
    */
  def importanceWeights(
      docs: DataFrame,
      targetFilter: Column,
      buckets: Int = 256,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(buckets >= 2, s"buckets ($buckets) must be >= 2")
    // tokenize ONCE into a bound column: the bigram lambda's element_at
    // calls would otherwise re-evaluate the whole tokenizer expression
    // per element (higher-order lambdas defeat subexpression elimination)
    val toks = col("__toks")
    val bigrams = when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1),
        i => concat(element_at(toks, i), lit(" "), element_at(toks, i + 1))))
      .otherwise(array().cast("array<string>"))
    // the target flag RIDES the feature stream from birth (features derive
    // from docs, so the filter verdict is free here) — both distributions
    // then come from ONE grouped pass over the stream, no joins
    val feats = docs
      .select(col(idCol), targetFilter.as("__tgt"),
        Tokenize.tokenArray(col(textCol)).as("__toks"))
      .select(col(idCol), col("__tgt"),
        explode(concat(toks, bigrams)).as("__f"))
      .withColumn("__b",
        graft.functions.HexSlice.u(md5(concat(lit("dsir:"), col("__f"))), 1, 15) % buckets)
      .select(col(idCol), col("__tgt"), col("__b"))
      .pin()
    val cnt = feats
      .groupBy(col("__b"))
      .agg(
        count(lit(1)).as("__nr"),
        sum(when(col("__tgt"), 1L).otherwise(0L)).as("__nt"))
      .pin() // BUCKETS-sized; consumed by ratios AND totals
    // bucket-space log ratios: totals fold off the bucket counts (no
    // corpus re-scan); join legs renamed around the totals self-reference
    val ratios = cnt
      .select(col("__b"), col("__nr").as("__nrj"), col("__nt").as("__ntj"))
      .crossJoin(broadcast(
        cnt.agg(sum(col("__nr")).as("__Nr"), sum(col("__nt")).as("__Nt"))))
      .select(col("__b"),
        (log((col("__ntj") + 1).cast("double") /
             (col("__Nt") + buckets).cast("double")) -
         log((col("__nrj") + 1).cast("double") /
             (col("__Nr") + buckets).cast("double"))).as("__llr"))
    val scored = feats
      .join(broadcast(ratios), Seq("__b"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_feats"), sum(col("__llr")).as("__logw"))
    docs
      .select(col(idCol))
      .join(scored, Seq(idCol), "left_outer")
      .select(
        col(idCol),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        Portable.pround(coalesce(col("__logw"), lit(0.0)), 4).as("logw_r"))
  }

  /** The BPE trainer's inner statistic: corpus-wide adjacent-symbol-pair
    * frequencies at the initial (character) merge state — the pair with
    * the max count IS the first BPE merge, and a tokenizer trainer loops
    * this after applying each merge.
    *
    * Scale shape (the classic trainer optimization, distributed): the
    * corpus-sized token stream first reduces to the VOCABULARY with
    * occurrence counts (one shuffle on the word — bounded by vocabulary
    * size, not corpus size), and pair enumeration + weighting then runs
    * over distinct words only, each pair weighted by its word's count.
    * The pair aggregate is vocabulary-×-word-length sized and partially
    * aggregated map-side; the corpus text is scanned exactly once.
    *
    * Returns (pair, cnt): "x y" space-joined symbol pairs with their
    * corpus frequencies.
    */
  def bpePairCounts(tokens: DataFrame, wordCol: String = "word"): DataFrame = {
    val vocab = tokens.groupBy(col(wordCol).as("w")).agg(count(lit(1)).as("n"))
    vocab
      .where(length(col("w")) >= 2)
      .select(col("n"), explode_outer(transform(
        sequence(lit(1), length(col("w")) - 1),
        i => concat(col("w").substr(i, lit(1)), lit(" "), col("w").substr(i + 1, lit(1))))).as("pair"))
      .groupBy(col("pair"))
      .agg(sum(col("n")).as("cnt"))
  }

  /** The actual BPE tokenizer trainer: starting from the character
    * symbolization, repeat k times — count adjacent symbol pairs corpus-wide
    * (weighted by word occurrence), pick the argmax pair (ties broken
    * cnt DESC, pair ASC — deterministic cross-engine), and MERGE it into a
    * single symbol in every word, greedy left-to-right non-overlapping (the
    * Sennrich et al. 2016 recipe).
    *
    * Scale shape: the corpus reduces to the VOCABULARY once (one shuffle,
    * bounded by vocab size); each round then runs one vocabulary-sized pair
    * aggregate (partial map-side) + one driver-side scalar argmax (a
    * `limit(1)` — metadata, the k-means-centroid pattern) + one map-side
    * merge pass, with the evolving symbolization `localCheckpoint`ed per
    * round so round r's plan doesn't replay rounds 1..r-1
    * ([[graft.operators.Similarity]]'s kmeansIterate template).
    *
    * The merge itself is one `aggregate` lambda: greedy left-to-right is
    * exactly "merge here iff the pair matches and the previous position did
    * not merge", which the fold gives for free — after a merge the
    * accumulator's last element becomes `ab`, which can never equal `a`
    * again (`b` is nonempty), so runs like "aaaa" merge to [aa, aa], not
    * [aa, aa, a-overlap]. `BpeSpec` fuzzes this against an in-memory mirror.
    *
    * Returns (iter, pair, cnt): the merge table, iter 1..k — the trained
    * tokenizer's artifact. Rounds 2..k re-count over MERGED symbols, so an
    * incorrect application would surface as a wrong argmax downstream.
    */
  /** The per-round trainer argmax [[bpeMerges]] collects each iteration —
    * extracted so the plan audit prints EXACTLY the loop-body shape: one
    * vocabulary-sized pair aggregate (partial map-side) feeding a
    * TakeOrderedAndProject(1) with the deterministic (cnt DESC, pair ASC)
    * tie-break. The `limit(1).collect()` in the caller is the bounded
    * driver-side scalar the k-means-centroid pattern allows. */
  def bpeRoundArgmax(vocab: DataFrame): DataFrame = vocab
    .where(size(col("syms")) >= 2)
    .select(col("n"), explode(transform(
      sequence(lit(1), size(col("syms")) - 1),
      i => concat(element_at(col("syms"), i), lit(" "),
        element_at(col("syms"), i + 1)))).as("pair"))
    .groupBy(col("pair"))
    .agg(sum(col("n")).as("cnt"))
    .orderBy(col("cnt").desc, col("pair").asc)
    .limit(1)

  /** The round-1 trainer vocabulary in LAZY form (the real loop checkpoints
    * it): word counts + character symbolization — the audit's input to
    * [[bpeRoundArgmax]]. */
  def bpeVocabPlan(tokens: DataFrame, wordCol: String = "word"): DataFrame = tokens
    .groupBy(col(wordCol).as("w"))
    .agg(count(lit(1)).as("n"))
    .withColumn("syms", split(col("w"), ""))

  def bpeMerges(tokens: DataFrame, k: Int, wordCol: String = "word"): DataFrame = {
    require(k >= 1, s"k ($k) must be >= 1")
    val spark = tokens.sparkSession
    var vocab = bpeVocabPlan(tokens, wordCol).pin()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    var exhausted = false
    for (it <- 1 to k if !exhausted) {
      val best = bpeRoundArgmax(vocab).collect()
      if (best.isEmpty) exhausted = true
      else {
        val pair = best(0).getString(0)
        val cnt  = best(0).getLong(1)
        merges += ((it, pair, cnt))
        val Array(a, b) = pair.split(" ", 2)
        vocab = vocab
          .withColumn("syms",
            aggregate(
              col("syms"),
              array().cast("array<string>"),
              (acc, x) =>
                when(size(acc) > 0 &&
                     element_at(acc, -1) === lit(a) && x === lit(b),
                  concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
                  .otherwise(concat(acc, array(x)))))
          .pin()
      }
    }
    import spark.implicits._
    merges.toSeq.toDF("iter", "pair", "cnt")
  }

  /** The round-1 WordPiece trainer vocabulary in LAZY form: word counts +
    * the BERT-style symbolization — word-initial character plain, every
    * subsequent character `##`-prefixed (Schuster & Nakajima 2012 / the
    * BERT WordPiece convention; the `##` marker is what lets the encode
    * side distinguish "able" the word from "##able" the suffix). */
  def wordpieceVocabPlan(tokens: DataFrame, wordCol: String = "word"): DataFrame =
    tokens
      .groupBy(col(wordCol).as("w"))
      .agg(count(lit(1)).as("n"))
      .withColumn("__cs", split(col("w"), ""))
      .withColumn("syms", transform(
        sequence(lit(1), size(col("__cs"))),
        j => when(j === 1, element_at(col("__cs"), 1))
          .otherwise(concat(lit("##"), element_at(col("__cs"), j)))))
      .drop("__cs")

  /** The per-round WordPiece argmax: unlike BPE's raw pair count, WordPiece
    * merges the pair maximizing the LIKELIHOOD score
    * cnt(ab) / (cnt(a)·cnt(b)) (Wu et al. 2016 — the merge that most
    * increases a unigram LM's corpus likelihood), which prefers gluing
    * symbols that occur mostly TOGETHER over gluing two independently
    * frequent symbols. All three counts are exact integers; the score
    * ranks via one IEEE division of identical integers on both engines
    * (correctly rounded, so cross-engine identical), ties broken pair ASC.
    *
    * Plan shape: one vocabulary-sized symbol-count aggregate + one
    * vocabulary-sized pair aggregate (both partial map-side), two
    * symbol-vocabulary joins, then a TakeOrderedAndProject(1).
    */
  def wordpieceRoundArgmax(vocab: DataFrame): DataFrame = {
    val symCnt = vocab
      .select(col("n"), explode(col("syms")).as("s"))
      .groupBy(col("s"))
      .agg(sum(col("n")).as("cs"))
    val pairs = vocab
      .where(size(col("syms")) >= 2)
      .select(col("n"), explode(transform(
        sequence(lit(1), size(col("syms")) - 1),
        i => struct(
          element_at(col("syms"), i).as("a"),
          element_at(col("syms"), i + 1).as("b")))).as("p"))
      .select(col("n"), col("p.a").as("a"), col("p.b").as("b"))
      .groupBy(col("a"), col("b"))
      .agg(sum(col("n")).as("cnt"))
    pairs
      .join(symCnt.select(col("s").as("a"), col("cs").as("ca")), Seq("a"))
      .join(symCnt.select(col("s").as("b"), col("cs").as("cb")), Seq("b"))
      .orderBy(
        // ca and cb cast to double INDIVIDUALLY before multiplying: a 64-bit
        // ca*cb long multiply overflows once symbol counts exceed ~3e9
        // (ANSI error), while double·double is exact for counts < 2^53 and
        // matches the oracle's ::DOUBLE * ::DOUBLE product bit for bit.
        (col("cnt").cast("double")
          / (col("ca").cast("double") * col("cb").cast("double"))).desc,
        col("a").asc, col("b").asc)
      .limit(1)
      .select(col("a"), col("b"), col("cnt"), col("ca"), col("cb"))
  }

  /** WordPiece tokenizer trainer — the third member of the subword family
    * next to [[bpeMerges]] (count argmax) and `unigramLm` (EM pruning):
    * k rounds of likelihood-scored pair merging over the `##`-marked
    * symbolization. The merged symbol keeps the FIRST element's marker
    * and strips the second's `##` (merging "p"+"##q" yields "pq",
    * "##p"+"##q" yields "##pq") — the continuation structure survives
    * every merge, which is what makes the final vocabulary servable by a
    * longest-match encoder. Greedy left-to-right non-overlapping
    * application reuses [[bpeMerges]]'s fold (BpeSpec's fuzzed kernel).
    *
    * Scale shape identical to [[bpeMerges]]: the corpus reduces to the
    * vocabulary once; each round is two vocabulary-sized aggregates + two
    * symbol-count joins + a driver-side scalar argmax + one map-side
    * merge pass, with the symbolization checkpointed per round.
    *
    * Returns (iter, pair, cnt, ca, cb) — all integers, the score is
    * cnt/(ca·cb) by construction, so the artifact replays exactly with
    * no float column at all.
    */
  def wordpieceMerges(tokens: DataFrame, k: Int, wordCol: String = "word"): DataFrame = {
    require(k >= 1, s"k ($k) must be >= 1")
    val spark = tokens.sparkSession
    var vocab = wordpieceVocabPlan(tokens, wordCol).pin()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long, Long, Long)]
    var exhausted = false
    for (it <- 1 to k if !exhausted) {
      val best = wordpieceRoundArgmax(vocab).collect()
      if (best.isEmpty) exhausted = true
      else {
        val r = best(0)
        val (a, b) = (r.getString(0), r.getString(1))
        merges += ((it, s"$a $b", r.getLong(2), r.getLong(3), r.getLong(4)))
        val merged = a + (if (b.startsWith("##")) b.drop(2) else b)
        vocab = vocab
          .withColumn("syms",
            aggregate(
              col("syms"),
              array().cast("array<string>"),
              (acc, x) =>
                when(size(acc) > 0 &&
                     element_at(acc, -1) === lit(a) && x === lit(b),
                  concat(slice(acc, lit(1), size(acc) - 1), array(lit(merged))))
                  .otherwise(concat(acc, array(x)))))
          .pin()
      }
    }
    import spark.implicits._
    merges.toSeq.toDF("iter", "pair", "cnt", "ca", "cb")
  }

  /** The trained tokenizer's ENCODE side: apply a learned merge table (in
    * training order — order IS the tokenizer; BPE applies merges by merge
    * priority, not by corpus frequency at encode time) to a column of
    * words, greedy left-to-right per merge, exactly mirroring
    * [[bpeMerges]]'s application step.
    *
    * Pure map-side: each merge is one `aggregate` fold over the symbol
    * array — no shuffle, no UDF; the merge table is a driver-side Seq
    * (k rows of metadata, the broadcast-scalars pattern). Expressions
    * chain one per merge, so the column tree grows with k: the symbol
    * state is `localCheckpoint`ed every 8 merges to bound codegen depth.
    * This is the k ≲ 100 regime an in-engine subword encoder serves;
    * a 30k-merge production tokenizer belongs in a vocabulary lookup
    * table, not an expression tree.
    *
    * Returns the input plus (pieces: array<string>, n_pieces).
    */
  def bpeApply(
      words: DataFrame,
      merges: Seq[String],
      wordCol: String = "word"): DataFrame = {
    var df = words.withColumn("pieces",
      filter(split(col(wordCol), ""), s => s =!= ""))
    merges.grouped(8).zipWithIndex.foreach { case (grp, gi) =>
      if (gi > 0) df = df.pin()
      grp.foreach { pair =>
        val Array(a, b) = pair.split(" ", 2)
        df = df.withColumn("pieces",
          aggregate(
            col("pieces"),
            array().cast("array<string>"),
            (acc, x) =>
              when(size(acc) > 0 &&
                   element_at(acc, -1) === lit(a) && x === lit(b),
                concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
                .otherwise(concat(acc, array(x)))))
      }
    }
    df.withColumn("n_pieces", size(col("pieces")))
  }

  /** Gopher-style composite quality rule suite (the Rae et al. 2021
    * repetition-free document filters, adapted to this corpus shape:
    * LINE-based rules — bullet-start / ellipsis-end fractions — are
    * omitted because the synthetic docs carry no newlines and the rules
    * would pass vacuously; [[withRepetitionMetrics]] covers the
    * duplicate-n-gram family separately). ALL metrics come from ONE
    * map-side pass over bound token arrays — no shuffle, no UDF; the
    * verdict columns are plain boolean arithmetic and `keep` is their
    * conjunction, so the filter composes into any curation plan as a
    * `where(col("keep") === 1)`.
    *
    * Rules (published Gopher thresholds where applicable):
    *   r_words   minWords <= n_ws <= maxWords
    *   r_wlen    3.0 <= mean alpha-token length <= 10.0
    *   r_alpha   >= 80% of whitespace tokens contain an alphabetic char
    *   r_symbol  (#'#' + #'...') / n_ws <= 0.1
    *   r_stop    >= 2 distinct stopwords from the shared list
    *
    * Ratios are 4-dp rounded BEFORE comparison on both engines so a
    * boundary doc can't flip its verdict between Spark and the oracle.
    * Returns metrics + per-rule 0/1 flags + keep.
    */
  def gopherRules(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      minWords: Long = 50,
      maxWords: Long = 100000): DataFrame = {
    val ws   = col("__ws")
    val toks = col("__toks")
    val nWs  = col("n_ws")
    val base = docs
      .withColumn("__ws", split(col(textCol), "\\s+"))
      .withColumn("__toks", Tokenize.tokenArray(col(textCol)))
      .withColumn("n_ws", size(ws).cast("bigint"))
      .withColumn("mean_wlen_r", Portable.pround(
        when(size(toks) === 0, lit(0.0)).otherwise(
          aggregate(toks, lit(0L), (acc, x) => acc + length(x)).cast("double")
            / size(toks).cast("double")), 4))
      .withColumn("alpha_frac_r", Portable.pround(
        size(filter(ws, t => t.rlike("[A-Za-z]"))).cast("double")
          / nWs.cast("double"), 4))
      .withColumn("sym_ratio_r", Portable.pround(
        ((length(col(textCol)) - length(replace(col(textCol), lit("#"), lit("")))).cast("double")
          + (length(col(textCol)) - length(replace(col(textCol), lit("..."), lit("")))).cast("double") / 3.0)
          / nWs.cast("double"), 4))
      .withColumn("n_stop",
        size(array_intersect(toks, array(Stopwords.map(lit): _*))).cast("bigint"))
    base
      .withColumn("r_words",
        (nWs >= minWords && nWs <= maxWords).cast("int"))
      .withColumn("r_wlen",
        (col("mean_wlen_r") >= 3.0 && col("mean_wlen_r") <= 10.0).cast("int"))
      .withColumn("r_alpha", (col("alpha_frac_r") >= 0.8).cast("int"))
      .withColumn("r_symbol", (col("sym_ratio_r") <= 0.1).cast("int"))
      .withColumn("r_stop", (col("n_stop") >= 2).cast("int"))
      .withColumn("keep",
        (col("r_words") === 1 && col("r_wlen") === 1 && col("r_alpha") === 1 &&
          col("r_symbol") === 1 && col("r_stop") === 1).cast("int"))
      .select(col(idCol), nWs, col("mean_wlen_r"), col("alpha_frac_r"),
        col("sym_ratio_r"), col("n_stop"), col("r_words"), col("r_wlen"),
        col("r_alpha"), col("r_symbol"), col("r_stop"), col("keep"))
  }

  /** Deterministic word-dropout augmentation — the training-data
    * robustness transform: drop each whitespace token with probability
    * `p`, decided by a per-(salt, doc, position) md5 draw, so reruns and
    * the oracle replay the IDENTICAL augmented corpus (the
    * [[graft.operators.Sampling]] determinism discipline applied to
    * augmentation). Scale shape: posexplode → map-side draw →
    * doc-keyed reassembly; per-group state is the doc's own kept-token
    * list, i.e. output-sized, and nothing shuffles except the doc-keyed
    * aggregate.
    *
    * Returns (idCol, aug_text, n_total, n_kept).
    */
  def wordDropout(
      docs: DataFrame,
      p: Double = 0.1,
      idCol: String = "doc_id",
      textCol: String = "text",
      salt: String = "wd"): DataFrame = {
    require(p >= 0.0 && p <= 1.0, s"p ($p) outside [0,1]")
    // 13 hex digits = 52 uniform bits; drop iff draw < p·2^52 (the
    // threshold is a compile-time literal shared verbatim with the oracle)
    val thr = (p * (1L << 52).toDouble).toLong
    val draw = graft.functions.HexSlice.u(md5(concat(
      lit(s"$salt:"), col(idCol).cast("string"), lit(":"), col("__pos").cast("string"))), 1, 13)
    docs
      .select(col(idCol), posexplode(split(col(textCol), "\\s+")).as(Seq("__pos", "__w")))
      .withColumn("__keep", draw >= thr)
      .groupBy(col(idCol))
      .agg(
        sort_array(collect_list(when(col("__keep"),
          struct(col("__pos"), col("__w"))))).as("__kept"),
        count(lit(1)).as("n_total"))
      .select(
        col(idCol),
        concat_ws(" ", transform(col("__kept"), s => s.getField("__w"))).as("aug_text"),
        col("n_total"),
        size(col("__kept")).cast("bigint").as("n_kept"))
  }

  /** Corpus-scale BPE DOCUMENT encoder — the trained tokenizer's
    * production job: map every document to its token-ID sequence under a
    * learned merge table ([[bpeMerges]]'s artifact, in training order),
    * closing the trainer→encoder→pipeline loop so packing and budgeting
    * ([[graft.operators.Packing.packByOffset]],
    * [[graft.operators.Sampling.tokenBudgetSample]] via their `countCol`)
    * spend budgets in REAL model tokens instead of whitespace counts.
    *
    * Scale shape: the corpus's DISTINCT words are segmented ONCE with
    * [[bpeApply]] — vocabulary-sized work, the same corpus→vocabulary
    * reduction the trainer rides — then joined back to the positional
    * token stream and flattened per document. Piece→id assignment never
    * scans anything: [[graft.operators.Tokenize]]'s alphabet is exactly
    * a–z and each merge mints exactly one new symbol, so the id table is
    * derivable from the merge table alone (≤ 26 + k entries: the letters
    * ∪ merge outputs, sorted ascending, ids 1-based) and ships as one
    * literal map expression — the oracle recomputes the identical table
    * from its own trainer CTE. The positional token stream is
    * materialized once (`localCheckpoint`) because both the vocabulary
    * and the flatten consume it — lazily each branch would re-tokenize
    * the corpus ([[graft.operators.Search.moreLikeThis]]'s measured
    * trap). The vocab join is |vocab| rows against the token stream —
    * beyond broadcast reach at corpus scale, it hash-joins on `word` and
    * AQE handles stop-word skew; per-doc reassembly state is the doc's
    * own token sequence, i.e. output-sized.
    *
    * Returns one row per input document:
    * (idCol, token_ids ARRAY<INT>, n_words, n_pieces) — token-less
    * documents keep an empty array, so row count is preserved and a
    * downstream packer sees every doc.
    */
  def bpeEncodeDocs(
      docs: DataFrame,
      merges: Seq[String],
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val pieceIds = (('a' to 'z').map(_.toString) ++
      merges.map(_.split(" ", 2).mkString)).distinct.sorted.zipWithIndex
    val idMap = map_from_arrays(
      array(pieceIds.map { case (p, _) => lit(p) }: _*),
      array(pieceIds.map { case (_, i) => lit(i + 1) }: _*))
    // raw-split posexplode (cheap generator array), clean AFTER — the
    // Tokenize.tokens pattern; raw positions keep gaps where tokens
    // cleaned to empty, but per-doc ORDER is all the flatten needs
    val toks = docs
      .select(col(idCol),
        posexplode(Tokenize.rawTokens(col(textCol))).as(Seq("__pos", "__raw")))
      .withColumn("word", Tokenize.cleanToken(col("__raw")))
      .where(length(col("word")) > 0)
      .select(col(idCol), col("__pos"), col("word"))
      .pin()
    val seg = bpeApply(toks.select("word").distinct(), merges)
      .select(col("word"),
        transform(col("pieces"), p => element_at(idMap, p)).as("__wids"))
    val enc = toks
      .join(seg, Seq("word"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("__pos"), col("__wids")))).as("__o"))
      .select(col(idCol),
        flatten(transform(col("__o"), s => s.getField("__wids"))).as("token_ids"),
        size(col("__o")).as("n_words"))
    docs.select(col(idCol))
      .join(enc, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("token_ids"), array().cast("array<int>")).as("token_ids"),
        coalesce(col("n_words"), lit(0)).as("n_words"))
      .withColumn("n_pieces", size(col("token_ids")))
  }

  /** Unigram-LM (SentencePiece-style) tokenizer trainer — Kudo 2018
    * ("Subword Regularization"), the OTHER subword tokenizer that matters
    * next to the [[bpeMerges]] family, trained as hard (Viterbi) EM:
    *
    *  1. SEED: every substring of the distinct words up to `maxPieceLen`
    *     chars, occurrence-weighted; the top `seedSize` multi-char pieces
    *     by (cnt DESC, piece ASC) plus ALL single characters (coverage —
    *     a char piece guarantees every word stays segmentable).
    *  2. E-step: Viterbi-segment each DISTINCT word (the [[bpeEncodeDocs]]
    *     discipline — the corpus reduces to the vocabulary once; document
    *     streams join the finished per-word segmentation) under the
    *     current piece log-probs.
    *  3. M-step: piece probability ∝ Viterbi piece count weighted by word
    *     frequency; single chars absent from any best path keep a Laplace
    *     floor count of 1 so coverage never dies mid-EM.
    *  4. After `emRounds`, PRUNE to all single chars + the top `keepMulti`
    *     multi-char pieces by (cnt DESC, piece ASC) and renormalize —
    *     Kudo's prune-lowest-loss step collapsed to its count form (a
    *     Viterbi-unused piece contributes zero likelihood mass here, so
    *     count order IS the hard-EM loss order).
    *
    * DETERMINISM (the fixed-round-unroll oracle contract, like
    * q_bpe_merges): Viterbi scores are INTEGER micro-log-probs
    * (lp6 = ⌊ln(cnt/total)·1e6+0.5⌋ summed as longs), so the DP argmax is
    * exact integer comparison — no float summation-order drift can flip a
    * segmentation between engines — with the path string as the ASC
    * tie-break; the oracle unrolls the same DP per position.
    *
    * SCALE SHAPE: `words` is the vocabulary relation (one corpus shuffle);
    * the seed substring explode is vocab-sized × O(maxWordLen·maxPieceLen);
    * each EM round is one vocab-sized map pass (the DP runs as chained
    * column expressions against a BROADCAST literal piece→lp6 map — piece
    * tables are tokenizer-sized metadata, the bpeMerges collect pattern)
    * plus one piece-sized aggregate. Words longer than `maxWordLen` are
    * out of scope on BOTH engines (a declared corpus bound — sf corpora
    * max out at 8 chars).
    *
    * Returns the trained vocabulary (piece, cnt, logp_r), logp 6-dp.
    */
  def unigramLm(
      tokens: DataFrame,
      seedSize: Int = 100,
      keepMulti: Int = 40,
      emRounds: Int = 2,
      maxPieceLen: Int = 4,
      maxWordLen: Int = 12,
      wordCol: String = "word"): DataFrame = {
    val (_, pruned) = unigramTrain(
      tokens, seedSize, keepMulti, emRounds, maxPieceLen, maxWordLen, wordCol)
    pruned
      .crossJoin(broadcast(pruned.agg(sum(col("cnt")).as("__tot"))))
      .select(col("piece"), col("cnt"),
        Portable.pround(
          log(col("cnt").cast("double") / col("__tot").cast("double")), 6).as("logp_r"))
  }

  /** Tokenizer-fertility eval for the trained unigram LM — pieces per
    * word per language, the same metric/shape as q_bpe_fertility so the
    * two tokenizers compare row-for-row on the same corpus. DISTINCT
    * words segment once (Viterbi under the pruned vocab, which retains
    * every character — total coverage); the per-doc token stream joins
    * the finished per-word piece counts.
    */
  def unigramFertility(
      docs: DataFrame,
      seedSize: Int = 100,
      keepMulti: Int = 40,
      emRounds: Int = 2,
      maxPieceLen: Int = 4,
      maxWordLen: Int = 12,
      idCol: String = "doc_id",
      textCol: String = "text",
      langCol: String = "lang"): DataFrame = {
    val toks = Tokenize.tokens(docs, textCol, Seq(idCol))
      .where(length(col("word")) <= maxWordLen)
    val (words, pruned) = unigramTrain(
      toks, seedSize, keepMulti, emRounds, maxPieceLen, maxWordLen, "word")
    val np = viterbiPath(words, logp6Map(pruned), maxPieceLen, maxWordLen)
      .select(col("w").as("word"), size(split(col("__path"), " ")).as("__np"))
    toks
      .join(np, Seq("word"))
      .join(docs.select(col(idCol), col(langCol)), Seq(idCol))
      .groupBy(col(langCol))
      .agg(count(lit(1)).as("tot_words"), sum(col("__np")).as("tot_pieces"))
      .select(col(langCol), col("tot_words"), col("tot_pieces"),
        Portable.pround(
          col("tot_pieces").cast("double") / col("tot_words").cast("double"), 4)
          .as("fertility_r"))
  }

  /** The seed + EM loop shared by [[unigramLm]] and [[unigramFertility]]:
    * returns (words(w, n) vocabulary relation, pruned(piece, cnt) vocab).
    */
  private[graft] def unigramTrain(
      tokens: DataFrame,
      seedSize: Int,
      keepMulti: Int,
      emRounds: Int,
      maxPieceLen: Int,
      maxWordLen: Int,
      wordCol: String): (DataFrame, DataFrame) = {
    require(maxPieceLen >= 2, s"maxPieceLen ($maxPieceLen) must be >= 2")
    require(maxWordLen >= maxPieceLen && maxWordLen <= 24,
      s"maxWordLen ($maxWordLen) must be in [maxPieceLen, 24] — the DP unrolls one column pair per position")
    require(emRounds >= 1 && seedSize >= 1 && keepMulti >= 1, "sizes must be positive")
    val words = tokens
      .where(length(col(wordCol)) <= maxWordLen)
      .groupBy(col(wordCol).as("w")).agg(count(lit(1)).as("n"))
      .pin()
    // seed substrings, per-occurrence within the word, frequency-weighted
    val subs = words
      .select(col("n"), explode(expr(
        s"""flatten(transform(sequence(1, length(w)), i ->
            transform(sequence(i, least(length(w), i + ${maxPieceLen - 1})), j ->
              substring(w, i, j - i + 1))))""")).as("piece"))
      .groupBy(col("piece")).agg(sum(col("n")).as("cnt"))
      .pin()
    val chars = subs.where(length(col("piece")) === 1)
    var cur = chars.unionByName(
      subs.where(length(col("piece")) >= 2)
        .orderBy(desc("cnt"), asc("piece")).limit(seedSize))
      .pin()
    for (_ <- 1 to emRounds) {
      val counts = viterbiPath(words, logp6Map(cur), maxPieceLen, maxWordLen)
        .select(col("n"), explode(split(col("__path"), " ")).as("piece"))
        .groupBy(col("piece")).agg(sum(col("n")).as("cnt"))
      // Laplace char floor: a character no best path used keeps count 1,
      // so every word stays segmentable in the next round and at encode
      cur = counts.unionByName(
        chars.select(col("piece"))
          .join(counts.select(col("piece")), Seq("piece"), "left_anti")
          .withColumn("cnt", lit(1L)))
        .pin()
    }
    val pruned = cur.where(length(col("piece")) === 1).unionByName(
      cur.where(length(col("piece")) >= 2)
        .orderBy(desc("cnt"), asc("piece")).limit(keepMulti))
      .pin()
    (words, pruned)
  }

  /** Integer micro-log-probs for a (piece, cnt) table — a driver-side map
    * bounded by the piece vocabulary (tokenizer-sized metadata, the
    * bpeMerges collect pattern; at production vocab sizes this is the
    * broadcast the executors would read anyway).
    */
  private[graft] def logp6Map(pieces: DataFrame): Map[String, Long] = {
    val rows = pieces.select(col("piece"), col("cnt"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val tot = rows.iterator.map(_._2).sum.toDouble
    rows.iterator.map { case (p, c) =>
      p -> math.floor(math.log(c / tot) * 1e6 + 0.5).toLong
    }.toMap
  }

  /** Viterbi segmentation of the distinct-word relation under a literal
    * piece→lp6 map: chained per-position column expressions — best score
    * (exact long) and best path (space-joined pieces, ASC tie-break) per
    * prefix — entirely map-side over the vocab-sized input. Unreachable
    * candidates carry a −10^15 sentinel (true scores are ≥ −maxWordLen·
    * ~20e6, five orders above it); total char coverage in the map means
    * the final position always resolves to a real path.
    */
  private[graft] def viterbiPath(
      words: DataFrame,
      lp: Map[String, Long],
      maxPieceLen: Int,
      maxWordLen: Int): DataFrame = {
    val Big = 1000000000000000L
    val lpLit = typedlit(lp)
    // per-position state is ONE struct column (ns = NEGATED score, path):
    // the step's argmax is a single array_min over candidate structs —
    // lexicographic struct order gives (max score, then path ASC) — so
    // every candidate subexpression appears exactly once. A pairwise
    // compare fold instead copies candidate subtrees per comparison and
    // the collapsed projection overflowed janino's 64 KB method limit by
    // position ~6 (measured); the struct form plus a barrier every 2
    // positions keeps codegen bounded. The relation is vocab-sized, so
    // the barriers are cheap map jobs.
    var df = words.withColumn("__b0",
      struct(lit(0L).as("ns"), lit("").as("path")))
    for (i <- 1 to maxWordLen) {
      val cands = (1 to math.min(maxPieceLen, i)).map { j =>
        val prev = col(s"__b${i - j}")
        val piece = col("w").substr(lit(i - j + 1), lit(j))
        val lpv = element_at(lpLit, piece)
        val reach = prev.getField("ns") < lit(Big / 2) && lpv.isNotNull
        val ns = when(reach, prev.getField("ns") - lpv).otherwise(lit(Big))
        val p = when(prev.getField("path") === lit(""), piece)
          .otherwise(concat(prev.getField("path"), lit(" "), piece))
        struct(ns.as("ns"), p.as("path"))
      }
      df = df.withColumn(s"__b$i",
        when(length(col("w")) >= i, array_min(array(cands: _*))))
      if (i % 2 == 0 && i < maxWordLen) df = df.pin()
    }
    val path = (1 to maxWordLen).foldLeft(lit(null).cast("string")) { (acc, i) =>
      when(length(col("w")) === i, col(s"__b$i").getField("path")).otherwise(acc)
    }
    df.select(col("w"), col("n"), path.as("__path"))
  }

  /** Term drift between two corpus versions: the top-k words whose
    * add-one-smoothed log relative frequency rose most from v1 to v2 —
    * `Δ(w) = ln((c₂+1)/(N₂+V)) − ln((c₁+1)/(N₁+V))` (V = union
    * vocabulary, so a word absent from one side gets the smoothed floor
    * rather than −∞). This is the "what changed in this snapshot" view a
    * dataset-versioning pipeline pairs with
    * [[graft.operators.ChangeData.corpusDiff]]: the diff says WHICH docs
    * changed, the drift says WHAT the change is about.
    *
    * Shape: both corpora reduce to vocab-sized count relations; one
    * full-outer join on the word key; N₁/N₂/V ride one broadcast scalar
    * row; the top-k is a global TakeOrdered on the ROUNDED delta (word
    * ASC ties) — no window anywhere.
    *
    * Returns (word, c1, c2, delta_r), k rows, delta DESC.
    */
  def termDrift(v1: DataFrame, v2: DataFrame, k: Int = 20): DataFrame = {
    require(k >= 1, s"k ($k) must be >= 1")
    def counts(df: DataFrame, out: String) =
      Tokenize.tokens(df, "text", Seq("doc_id"))
        .groupBy(col("word"))
        .agg(count(lit(1)).as(out))
    val j = counts(v1, "c1")
      .join(counts(v2, "c2"), Seq("word"), "full_outer")
      .na.fill(0L, Seq("c1", "c2"))
    val sums = j.agg(
      sum(col("c1")).as("__n1"), sum(col("c2")).as("__n2"), count(lit(1)).as("__v"))
    j.crossJoin(broadcast(sums))
      .withColumn("delta_r",
        Portable.pround(
          log((col("c2") + 1) / (col("__n2") + col("__v")))
            - log((col("c1") + 1) / (col("__n1") + col("__v"))), 4))
      .orderBy(desc("delta_r"), asc("word"))
      .limit(k)
      .select(col("word"), col("c1"), col("c2"), col("delta_r"))
  }

  /** Good–Turing frequency smoothing table (Good, Biometrika 1953): the
    * frequency-of-frequencies N_r, the adjusted count r* = (r+1)·N_{r+1}
    * / N_r for r = 1..maxR, and the UNSEEN-MASS estimate P₀ = N₁/N —
    * "how much probability belongs to tokens this corpus has never
    * seen", the vocabulary-coverage dial behind smoothing choices, OOV
    * budgeting and corpus-growth planning ([[graft.operators.Stats]]'
    * vocabGrowth asks how fast types arrive; Good–Turing asks how much
    * mass is still missing).
    *
    * Scale shape: one partial-agg token count (vocabulary-sized), one
    * FULL count-of-counts over it (|distinct count values| rows — a
    * few hundred even at corpus scale), checkpointed once; the r ≤ maxR
    * filter applies at the N_{r+1} self-join (maxR+1 rows, no window),
    * and N = Σ r·N_r comes from the fof table itself — ONE corpus-scale
    * pass total where a tokens.count() would run the whole upstream
    * pipeline a second time. Every quantity is an exact integer ratio,
    * rounded once.
    *
    * Returns (r, n_r, n_next, rstar_r, p0_r), one row per r = 1..maxR
    * (rows with N_r = 0 don't exist — their r* is undefined); p0_r is
    * the corpus constant repeated for self-containment.
    */
  def goodTuring(tokens: DataFrame, maxR: Int = 5): DataFrame = {
    require(maxR >= 1, s"maxR ($maxR) must be >= 1")
    // FULL count-of-counts (no r-filter): the relation is
    // |distinct count values|-sized anyway, and keeping every r lets
    // N = Σ r·N_r come from the fof table itself — the naive
    // tokens.count() would re-run the whole upstream corpus pass
    val fof = tokens
      .groupBy(col("word")).agg(count(lit(1)).as("__c"))
      .groupBy(col("__c").as("r")).agg(count(lit(1)).as("n_r"))
      .pin()
    val nTok = broadcast(fof.agg(sum(col("r") * col("n_r")).as("__n")))
    val p0 = broadcast(fof.where(col("r") === 1)
      .select(col("n_r").as("__n1")))
    fof
      .where(col("r") <= maxR)
      .join(fof.select((col("r") - 1).as("r"), col("n_r").as("n_next")), Seq("r"), "left")
      .na.fill(0L, Seq("n_next"))
      .crossJoin(nTok)
      .crossJoin(p0)
      .select(col("r"), col("n_r"), col("n_next"),
        Portable.pround(
          (col("r") + 1).cast("double") * col("n_next").cast("double")
            / col("n_r").cast("double"), 6).as("rstar_r"),
        Portable.pround(
          col("__n1").cast("double") / col("__n").cast("double"), 6).as("p0_r"))
      .orderBy(col("r"))
  }

  /** Per-document shingle novelty: what fraction of this doc's distinct
    * k-grams first appear HERE (first occurrence = min doc_id over the
    * corpus's stable positional order) — the per-doc memorization/
    * boilerplate dial: low novelty means the doc is assembled from
    * already-seen n-grams even when no single pair-level duplicate
    * exists ([[graft.operators.Dedup]] finds pairs; this scores each doc
    * against the WHOLE corpus prefix). Heaps-law's per-doc complement
    * (q_vocab_growth buckets first occurrences; this attributes them).
    *
    * One shingle explode, CHECKPOINTED because two consumers read it
    * (the first-seen aggregate and the per-doc count — the dupExposure
    * lesson: an un-materialized reference re-shingles per consumer);
    * the first-seen relation is shingle-vocabulary-sized with a
    * partial-agg min; one join back. Empty docs (no shingles) are
    * absent.
    *
    * Returns (idCol, n_shingles, n_novel, novelty_r) ordered by id.
    */
  def noveltyProfile(
      df: DataFrame,
      textCol: String,
      idCol: String = "doc_id",
      k: Int = 3): DataFrame = {
    val sh = withShingles(df.select(col(idCol), col(textCol)), textCol, k)
      .select(col(idCol), explode(col("shingles")).as("__sh"))
      .pin()
    val first = sh.groupBy(col("__sh")).agg(min(col(idCol)).as("__first"))
    sh
      .join(first, Seq("__sh"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__first") === col(idCol), 1L).otherwise(0L)).as("n_novel"))
      .select(col(idCol), col("n_shingles"), col("n_novel"),
        Portable.pround(
          col("n_novel").cast("double") / col("n_shingles").cast("double"),
          6).as("novelty_r"))
      .orderBy(idCol)
  }

  /** RAKE keyphrase extraction (Rose et al., "Automatic Keyword Extraction
    * from Individual Documents", 2010): candidate phrases are the maximal
    * stopword-free token runs; each word scores deg/freq (deg = Σ of the
    * lengths of the phrases its occurrences sit in — co-occurrence pulls a
    * word up; freq alone pulls it down), and a phrase scores the sum of
    * its words — multi-word domain terms beat bare frequent words, which
    * is the whole point vs a tf-idf keyword list ([[q_doc_keywords]]'s
    * model). Corpus-level: word statistics pool across documents, and
    * identical phrases collapse with an instance count.
    *
    * Scale + determinism: phrase runs come from the gaps-and-islands
    * pos − row_number trick over a doc-PARTITIONED window (offset-
    * invariant, never a global sort); phrase text is rebuilt by sorting
    * the collected (pos, word) structs — collect_list order never
    * matters; word stats are vocab-sized; each phrase INSTANCE's score
    * is ROUNDED before identical phrases collapse (instances sum the
    * same word scores in engine-chosen order — rounding is what makes
    * the collapse deterministic); top-k rides TakeOrdered with a
    * (score DESC, phrase) total order.
    *
    * Returns the top `k` (phrase, n_instances, score_r).
    */
  def rakePhrases(
      df: DataFrame,
      textCol: String,
      idCol: String = "doc_id",
      k: Int = 20): DataFrame = {
    require(k >= 1, s"k ($k) must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val toks = df
      .select(col(idCol).as("__id"),
        posexplode(Tokenize.tokenArray(col(textCol))).as(Seq("__pos", "__w")))
      .where(!col("__w").isin(Stopwords: _*))
    val wRun = Window.partitionBy(col("__id")).orderBy(col("__pos"))
    val runs = toks.withColumn("__grp", col("__pos") - row_number().over(wRun))
    val phrases = runs
      .groupBy(col("__id"), col("__grp"))
      .agg(count(lit(1)).as("__plen"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("__pos").as("p"), col("__w").as("w")))),
            x => x.getField("w")),
          " ").as("__phrase"))
    val wordStats = runs
      .join(phrases, Seq("__id", "__grp"))
      .groupBy(col("__w"))
      .agg(count(lit(1)).as("__freq"), sum(col("__plen")).as("__deg"))
    runs
      .join(phrases, Seq("__id", "__grp"))
      .join(wordStats, Seq("__w"))
      .groupBy(col("__id"), col("__grp"), col("__phrase"))
      .agg(sum(col("__deg").cast("double") / col("__freq").cast("double")).as("__s"))
      .withColumn("__s_r", Portable.pround(col("__s"), 4))
      .groupBy(col("__phrase").as("phrase"))
      .agg(count(lit(1)).as("n_instances"), max(col("__s_r")).as("score_r"))
      .orderBy(col("score_r").desc, col("phrase"))
      .limit(k)
  }

  /** Burrows' Delta stylistic distance between every source pair
    * (Burrows, "'Delta': a Measure of Stylistic Difference", LLC 2002 —
    * the stylometry standard): z-score each source's relative frequency
    * of the corpus's top-`topM` words (the function-word proxy — THE
    * most frequent words are grammar, not topic), Delta = mean |Δz|
    * over those words. The provenance/contamination dial topic-level
    * profiles miss: [[graft.operators.Stats.jsDivergence]] sees WHAT a
    * source talks about, Delta sees HOW it is written — two crawls of
    * the same generator read near-0 even when their topics differ.
    *
    * Scale shape: corpus → (source, word) counts once; the vocabulary
    * cut is a bounded TakeOrdered (freq DESC, word ASC); everything
    * after is (topM × sources)-sized metadata. Parity: relative
    * frequencies floor to 1e6-scaled integers, per-word mean/variance
    * ride exact integer sums (a handful of sources would make double
    * sums partial-agg-order exposed), zero-variance words drop on the
    * identically-computed var (BEFORE sqrt — a NaN would compare
    * differently across engines), z rounds to 6 dp, and the pair sum
    * adds 1e6-scaled |Δz| integers.
    *
    * Returns (s1, s2, n_words, delta_r) with s1 < s2; n_words counts
    * the surviving (σ > 0) vocabulary, identical for every pair.
    */
  def burrowsDelta(tokens: DataFrame, sourceCol: String, topM: Int = 30): DataFrame = {
    require(topM >= 2, s"topM ($topM) must be >= 2")
    val cnt = tokens
      .select(col(sourceCol).as("source"), col("word"))
      .groupBy(col("source"), col("word"))
      .agg(count(lit(1)).as("__a"))
      .pin()
    val topW = cnt.groupBy(col("word")).agg(sum(col("__a")).as("__n"))
      .orderBy(col("__n").desc, col("word").asc).limit(topM)
      .select(col("word"))
    val st = cnt.groupBy(col("source")).agg(sum(col("__a")).as("__n1"))
    val f6 = st
      .crossJoin(broadcast(topW))
      .join(cnt, Seq("source", "word"), "left_outer")
      .na.fill(0L, Seq("__a"))
      .select(col("source"), col("word"),
        floor(col("__a").cast("double") / col("__n1").cast("double") * 1e6 + lit(0.5))
          .cast("long").as("__f6"))
      .pin()
    val mu6 = col("__s1").cast("double") / col("__ns").cast("double")
    val stats = f6
      .groupBy(col("word"))
      .agg(count(lit(1)).as("__ns"),
        sum(col("__f6")).as("__s1"),
        sum(col("__f6") * col("__f6")).as("__s2"))
      .withColumn("__var6", col("__s2").cast("double") / col("__ns").cast("double") - mu6 * mu6)
      .where(col("__var6") > 0.0)
      .select(col("word"), mu6.as("__mu6"), sqrt(col("__var6")).as("__sd6"))
    val z = f6
      .join(broadcast(stats), Seq("word"))
      .select(col("source"), col("word"),
        Portable.pround(
          (col("__f6").cast("double") - col("__mu6")) / col("__sd6"), 6).as("__z"))
    z.select(col("word"), col("source").as("s1"), col("__z").as("__z1"))
      .join(z.select(col("word"), col("source").as("s2"), col("__z").as("__z2")), Seq("word"))
      .where(col("s1") < col("s2"))
      .groupBy(col("s1"), col("s2"))
      .agg(count(lit(1)).as("n_words"),
        sum(floor(abs(col("__z1") - col("__z2")) * 1e6 + lit(0.5)).cast("long")).as("__d6"))
      .select(col("s1"), col("s2"), col("n_words"),
        Portable.pround(
          col("__d6").cast("double") / 1e6 / col("n_words").cast("double"), 6).as("delta_r"))
  }
}
