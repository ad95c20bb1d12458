package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Materialize.Pinned
import graft.functions.Portable

/** Catalog-style corpus/table statistics: the ANALYZE pass a query
  * optimizer (and a dataset curator) runs before anything else — per-column
  * cardinalities and ranges, and the vocabulary-growth curve that tells a
  * pipeline how fast its token vocabulary saturates as the corpus grows.
  */
object Stats {

  /** One-pass per-column statistics (row count, non-null count, exact
    * distinct count, min/max/avg) for the named NUMERIC columns, one output
    * row per column — what `ANALYZE TABLE ... COMPUTE STATISTICS FOR
    * COLUMNS` feeds the CBO, exposed as a relation.
    *
    * All measures ride ONE aggregate over the table. With `exact = true`
    * (default — what the oracle verifies) Catalyst plans the multi-column
    * exact `countDistinct` as an Expand — one scan, rows × |cols| inside
    * the aggregate, the standard exact-NDV plan; the single stats row is
    * then unpivoted to per-column rows with a literal struct array —
    * driver never sees data. `exact = false` is the 100 TB path: NDV via
    * `approx_count_distinct` (HLL++, rsd-bounded memory) — the Expand
    * disappears and the aggregate is a plain partial+final pass whose
    * buffer is |cols| HLL sketches instead of rows × |cols| distinct
    * groups. Same contract as the percentile family's `exact/accuracy`
    * params; `ApproxStatsSpec` pins |approx − exact| on every column.
    */
  def tableStats(
      df: DataFrame,
      cols: Seq[String],
      exact: Boolean = true,
      rsd: Double = 0.05): DataFrame = {
    require(cols.nonEmpty, "tableStats needs at least one column")
    val aggs: Seq[Column] = cols.flatMap { c =>
      Seq(
        count(lit(1)).as(s"${c}__n"),
        count(col(c)).as(s"${c}__nn"),
        (if (exact) countDistinct(col(c))
         else approx_count_distinct(col(c), rsd)).as(s"${c}__ndv"),
        min(col(c)).cast("double").as(s"${c}__min"),
        max(col(c)).cast("double").as(s"${c}__max"),
        avg(col(c).cast("double")).as(s"${c}__avg"))
    }
    // r20: k exact countDistincts plan as an Expand (k+1 rows per input
    // row) feeding the partial aggregate — project to just the audited
    // columns and Spread (identity on wide inputs) so that k×-multiplied
    // map segment isn't pinned to a narrow scan's task count (guide §2)
    val base = graft.functions.Spread(
      df.select(cols.map(col): _*), struct(cols.map(col): _*))
    val one = base.agg(aggs.head, aggs.tail: _*)
    val rows = cols.map { c =>
      struct(
        lit(c).as("col_name"),
        col(s"${c}__n").as("n_rows"),
        (col(s"${c}__n") - col(s"${c}__nn")).as("n_null"),
        col(s"${c}__ndv").as("ndv"),
        Portable.pround(col(s"${c}__min"), 4).as("min_v"),
        Portable.pround(col(s"${c}__max"), 4).as("max_v"),
        Portable.pround(col(s"${c}__avg"), 4).as("avg_v"))
    }
    one.select(explode(array(rows: _*)).as("s")).select(col("s.*"))
  }

  /** Equi-depth (equal-count) histogram of a numeric column: `buckets`
    * buckets cut at the exact interpolated percentiles — the histogram a
    * cost-based optimizer keeps for selectivity estimation on skewed
    * columns (equi-WIDTH buckets collapse under skew; equi-depth ones
    * don't). Returns (bucket, n, lo, hi) with bucket = number of
    * boundaries ≤ value.
    *
    * Scale: one aggregate computes all boundary percentiles, the tiny
    * boundary array broadcasts, and bucket assignment is a map-side
    * higher-order `filter` count — no sort of the data, no window. The
    * boundaries are 6-dp rounded BEFORE comparison on both engines, so an
    * interpolated boundary landing within an ulp of an integer can't flip
    * a row's bucket between engines.
    *
    * `exact = false` swaps the boundary pass to `percentile_approx`
    * (bounded-memory GK sketch, rank error <= 1/accuracy) — the 100 TB
    * path: exact `percentile` is an ImperativeAggregate that buffers
    * EVERY value of the column in one aggregation buffer, which OOMs on
    * a hot column at scale. Same plan shape either way; only the
    * boundary aggregate changes. Keep `exact = true` (default) for
    * cross-engine oracle parity, `ApproxStatsSpec` pins the divergence.
    */
  def equiDepthHistogram(
      df: DataFrame,
      c: String,
      buckets: Int = 8,
      exact: Boolean = true,
      accuracy: Int = 10000): DataFrame = {
    require(buckets >= 2, s"buckets ($buckets) must be >= 2")
    val fracs = (1 until buckets).map(i => i.toDouble / buckets)
    val arr = s"array(${fracs.mkString(", ")})"
    val bounds = df.agg(
      (if (exact) expr(s"percentile($c, $arr)")
       else expr(s"cast(percentile_approx($c, $arr, $accuracy) as array<double>)"))
        .as("__bs"))
    df.select(col(c).cast("double").as("__v"))
      .crossJoin(broadcast(bounds))
      .withColumn("bucket",
        size(filter(transform(col("__bs"), b => Portable.pround(b, 6)), b => b <= col("__v"))))
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("n"),
        Portable.pround(min(col("__v")), 4).as("lo"),
        Portable.pround(max(col("__v")), 4).as("hi"))
  }

  /** Two-sample Kolmogorov–Smirnov statistic per group: D = max over x of
    * |F₁(x) − F₂(x)| between the empirical CDFs of two tagged samples —
    * the distribution-drift detector ("did this source's quality-score
    * distribution move between snapshots?") that mean/variance checks
    * miss entirely.
    *
    * Exact and tie-correct: rows first collapse to DISTINCT values with
    * per-sample counts (the only corpus-sized shuffle — the CDF steps only
    * at observed values), then the cumulative counts run in the two-pass
    * chunked prefix form CHUNKED ON THE VALUE RANGE (`floor(v / width)` is
    * monotone in v, so chunk bases + bounded in-chunk windows reproduce
    * the per-group value order exactly — the packByOffset pattern applied
    * to a sort-by-value statistic). D evaluates at every distinct value
    * from group-distribution-sized data.
    *
    * Returns (groupCol, n1, n2, d_r) with D 6-dp rounded.
    */
  def ksTest(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      sampleCol: String,
      chunkWidth: Double = 1000.0): DataFrame = {
    require(chunkWidth > 0, s"chunkWidth ($chunkWidth) must be positive")
    val v = col(valueCol).cast("double")
    val perValue = df
      .groupBy(col(groupCol), v.as("__v"))
      .agg(
        sum(when(col(sampleCol) === 1, 1L).otherwise(0L)).as("__c1"),
        sum(when(col(sampleCol) === 2, 1L).otherwise(0L)).as("__c2"))
      .withColumn("__chunk", floor(col("__v") / chunkWidth).cast("long"))
    val wChunks = Window.partitionBy(col(groupCol)).orderBy(col("__chunk"))
    val bases = perValue
      .groupBy(col(groupCol), col("__chunk"))
      .agg(sum(col("__c1")).as("__s1"), sum(col("__c2")).as("__s2"))
      .withColumn("__b1", sum(col("__s1")).over(wChunks) - col("__s1"))
      .withColumn("__b2", sum(col("__s2")).over(wChunks) - col("__s2"))
      .select(col(groupCol), col("__chunk"), col("__b1"), col("__b2"))
    val totals = df
      .groupBy(col(groupCol))
      .agg(
        sum(when(col(sampleCol) === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col(sampleCol) === 2, 1L).otherwise(0L)).as("n2"))
    val wLocal = Window.partitionBy(col(groupCol), col("__chunk")).orderBy(col("__v"))
    perValue
      .join(broadcast(bases), Seq(groupCol, "__chunk"))
      .withColumn("__cum1", col("__b1") + sum(col("__c1")).over(wLocal))
      .withColumn("__cum2", col("__b2") + sum(col("__c2")).over(wLocal))
      .join(broadcast(totals), Seq(groupCol))
      // D is undefined against an empty sample — drop one-sided groups
      .where(col("n1") > 0 && col("n2") > 0)
      .withColumn("__gap", abs(
        col("__cum1").cast("double") / col("n1") -
        col("__cum2").cast("double") / col("n2")))
      .groupBy(col(groupCol))
      .agg(
        first(col("n1")).as("n1"),
        first(col("n2")).as("n2"),
        Portable.pround(max(col("__gap")), 6).as("d_r"))
  }

  /** Per-group simple linear regression (closed-form OLS): slope,
    * intercept, and R² of y on x from the five sufficient statistics
    * (n, Σx, Σy, Σxy, Σx²[, Σy²]) — the drift detector a corpus monitor
    * runs ("is quality trending down within each source?") without any
    * ML-library dependency.
    *
    * ONE partially-aggregated pass computes every statistic; the
    * slope/intercept/R² arithmetic is a map-side projection over the
    * group-cardinality result. Sums of products stay exact in doubles
    * while below 2^53, which integer-ish testdata satisfies; outputs are
    * 4-dp rounded for the cross-engine hash. Degenerate groups (constant
    * x) emit NULL slope/intercept/r2 rather than dividing by zero.
    *
    * Returns (groupCol, n, slope_r, icept_r, r2_r).
    */
  def groupedOls(
      df: DataFrame,
      groupCol: String,
      xCol: String,
      yCol: String): DataFrame = {
    val x = col(xCol).cast("double")
    val y = col(yCol).cast("double")
    val agg = df.groupBy(col(groupCol)).agg(
      count(lit(1)).cast("double").as("__n"),
      sum(x).as("__sx"),
      sum(y).as("__sy"),
      sum(x * y).as("__sxy"),
      sum(x * x).as("__sxx"),
      sum(y * y).as("__syy"))
    val dxx = col("__n") * col("__sxx") - col("__sx") * col("__sx")
    val dyy = col("__n") * col("__syy") - col("__sy") * col("__sy")
    val dxy = col("__n") * col("__sxy") - col("__sx") * col("__sy")
    val slope = dxy / dxx
    val icept = (col("__sy") - slope * col("__sx")) / col("__n")
    val r2    = (dxy * dxy) / (dxx * dyy)
    val guard = (c: Column) => when(dxx =!= 0.0, c)
    agg.select(
      col(groupCol),
      col("__n").cast("bigint").as("n"),
      Portable.pround(guard(slope), 4).as("slope_r"),
      Portable.pround(guard(icept), 4).as("icept_r"),
      Portable.pround(guard(when(dyy =!= 0.0, r2)), 4).as("r2_r"))
  }

  /** Zipf-law fit per group: the OLS slope of ln(freq) against ln(rank)
    * over the group's term-frequency distribution — the corpus-health
    * diagnostic (natural language sits near slope −1; a slope far off
    * flags boilerplate floods or templated spam, which is why curation
    * pipelines chart it per source/snapshot).
    *
    * Shape: the corpus reduces to (group, word, freq) with one
    * partially-aggregated groupBy; the frequency rank is a window over
    * the PER-GROUP VOCABULARY (vocab-sized metadata, the same bounded
    * axis as spellSuggest/vocabGrowth — never a document axis); the fit
    * itself is [[groupedOls]]'s one-pass sufficient statistics in
    * log-log space, group-sized output. Ties rank deterministically
    * (freq DESC, word ASC) so both engines see identical (rank, freq)
    * points.
    *
    * Returns (group, n, slope_r, icept_r, r2_r): n = vocabulary size,
    * slope_r ≈ −s of `freq ∝ rank^(−s)`.
    */
  def zipfFit(tokens: DataFrame, groupCol: String): DataFrame = {
    val freq = tokens
      .groupBy(col(groupCol), col("word"))
      .agg(count(lit(1)).as("freq"))
    val w = Window.partitionBy(col(groupCol)).orderBy(desc("freq"), asc("word"))
    groupedOls(
      freq
        .withColumn("rank", row_number().over(w))
        .withColumn("lx", log(col("rank")))
        .withColumn("ly", log(col("freq"))),
      groupCol, "lx", "ly")
  }

  /** Gini coefficient of the term-frequency distribution per group — the
    * concentration companion to [[zipfFit]]: 0 = every word equally
    * frequent, →1 = a few words dominate the token mass. Template floods
    * and boilerplate push it toward 1 long before they're visible in
    * mean-quality metrics, so curation dashboards chart it per
    * source/snapshot next to the Zipf slope.
    *
    * Uses the rank form G = 2·Σ(rᵢ·xᵢ)/(n·Σx) − (n+1)/n over frequencies
    * sorted ASCENDING. Every accumulated term is an exact integer (rank ×
    * count), so the only float op is the final division — rounded, it
    * cannot diverge cross-engine; equal frequencies contribute the same
    * sum under any tie order (the word-ASC tie break is for determinism
    * of the rank column itself, not the result). The rank window
    * partitions by group over the PER-GROUP VOCABULARY — the same bounded
    * metadata axis as [[zipfFit]].
    *
    * Returns (group, n_vocab, total_tokens, gini_r).
    */
  def tokenGini(tokens: DataFrame, groupCol: String): DataFrame = {
    val freq = tokens
      .groupBy(col(groupCol), col("word"))
      .agg(count(lit(1)).as("freq"))
    val w = Window.partitionBy(col(groupCol)).orderBy(asc("freq"), asc("word"))
    freq
      .withColumn("r", row_number().over(w))
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_vocab"),
        sum(col("freq")).as("total_tokens"),
        sum(col("r") * col("freq")).as("__srx"))
      .select(
        col(groupCol),
        col("n_vocab"),
        col("total_tokens"),
        Portable.pround(
          lit(2.0) * col("__srx") / (col("n_vocab") * col("total_tokens"))
            - (col("n_vocab") + 1).cast("double") / col("n_vocab"), 4).as("gini_r"))
  }

  /** Per-source dataset card: the one-row-per-source summary table a
    * dataset release ships (docs, token mass, mean length, language mix
    * entropy, exact-duplicate rate) — the composition of the engine's
    * curation metrics into the artifact humans actually read.
    *
    * Three partial aggregates, all reduced to source-sized relations
    * before any join: (docs, mean chars, distinct content hashes) in one
    * pass over documents; token mass in one pass over the token stream;
    * language entropy from the (source, lang) contingency via
    * H = ln N − Σ n·ln n / N (one more source-sized reduce — no per-doc
    * state survives the first aggregate). Exact-dup rate is
    * 1 − distinct(md5)/docs, the same content-hash identity
    * [[graft.operators.Dedup.exact]] groups on.
    *
    * Returns (source, n_docs, n_tokens, mean_chars_r, n_langs,
    * lang_entropy_r, dup_rate_r).
    */
  def datasetCard(docs: DataFrame, tokens: DataFrame): DataFrame = {
    val base = docs
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        Portable.pround(avg(col("n_chars")), 2).as("mean_chars_r"),
        countDistinct(md5(col("text"))).as("__nd"))
    val tok = tokens
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"))
    val ent = docs
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("__nl"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_langs"),
        sum(col("__nl")).as("__tot"),
        sum(col("__nl").cast("double") * log(col("__nl"))).as("__snl"))
      .select(
        col("source"), col("n_langs"),
        Portable.pround(
          log(col("__tot")) - col("__snl") / col("__tot"), 4).as("lang_entropy_r"))
    base
      .join(tok, Seq("source"))
      .join(ent, Seq("source"))
      .withColumn("dup_rate_r",
        Portable.pround(lit(1.0) - col("__nd").cast("double") / col("n_docs"), 4))
      .select(
        col("source"), col("n_docs"), col("n_tokens"), col("mean_chars_r"),
        col("n_langs"), col("lang_entropy_r"), col("dup_rate_r"))
  }

  /** Mergeable per-group moments — the incremental-statistics algebra: a
    * partial (n, Σx, Σx²) triple per group is associatively mergeable by
    * plain addition, so per-snapshot/per-shard partials combine into
    * whole-corpus statistics WITHOUT re-reading history (the property
    * every warehouse's incremental ANALYZE and every map-side combine
    * relies on — here exposed as data so snapshot pipelines can store
    * and roll up their own stats). [[mergedMomentsReport]] turns merged
    * partials into (mean, population variance, std).
    *
    * One partial-aggregated groupBy per input — group-sized output, no
    * window. Sums of products stay exact in double for integer-scaled
    * inputs (the catastrophic-cancellation caveat of the Σx² form vs
    * Welford/Chan applies to ill-conditioned data: variance tiny
    * relative to mean² — the report rounds, and callers with such data
    * should center first).
    */
  def partialMoments(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val x = col(valueCol).cast("double")
    df.groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n"),
        sum(x).as("s"),
        sum(x * x).as("ss"))
  }

  /** Merge any number of [[partialMoments]] relations (pure addition per
    * group) and report (group, n, mean_r, var_r, std_r) — population
    * variance (Σx² − (Σx)²/n)/n, all rounded at 4 dp.
    */
  def mergedMomentsReport(parts: DataFrame*): DataFrame = {
    require(parts.nonEmpty, "need at least one partial")
    val g = parts.head.columns.head
    parts
      .reduce(_.unionByName(_))
      .groupBy(col(g))
      .agg(sum(col("n")).as("n"), sum(col("s")).as("s"), sum(col("ss")).as("ss"))
      .select(
        col(g),
        col("n"),
        Portable.pround(col("s") / col("n"), 4).as("mean_r"),
        Portable.pround((col("ss") - col("s") * col("s") / col("n")) / col("n"), 4).as("var_r"),
        Portable.pround(sqrt((col("ss") - col("s") * col("s") / col("n")) / col("n")), 4).as("std_r"))
  }

  /** k-anonymity audit over quasi-identifier columns: the equivalence
    * classes (distinct QI combinations) whose member count falls below
    * `k` — each is a re-identification risk, the check a release
    * pipeline runs AFTER direct-identifier redaction (PII scrubbing
    * removes names; it does not stop a (lang, source, length) combo from
    * isolating one document). Output is the risky classes with their
    * sizes plus each class's share of the table, smallest first.
    *
    * One partial-aggregated groupBy over the QI tuple, total as a
    * broadcast scalar — class-count-sized output, no window.
    */
  def kAnonymity(df: DataFrame, qiCols: Seq[String], k: Int): DataFrame = {
    require(qiCols.nonEmpty && k >= 2, s"need QI columns and k >= 2 (k=$k)")
    val total = df.agg(count(lit(1)).as("__total"))
    df.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("class_size"))
      .where(col("class_size") < k)
      .crossJoin(broadcast(total))
      .select(
        qiCols.map(col) ++ Seq(
          col("class_size"),
          Portable.pround(col("class_size").cast("double") / col("__total"), 6).as("share_r")): _*)
  }

  /** Pairwise source-overlap NDV from KMV SKETCH SET ALGEBRA — the
    * 100 TB form of [[sourceOverlap]]: that operator equi-joins the two
    * sources' full vocabularies; this one never joins corpus-sized data
    * at all. One grouped `kmv_ndv` pass reduces every source to its
    * bottom-k-by-md5 sketch, and the classic KMV set operations run on
    * the (sources × k)-sized sketch relation alone:
    *
    *   - the bottom-k of the UNION of two sketches is a valid KMV sketch
    *     of the union set (union threshold ≤ each input's threshold), so
    *     the union NDV falls out of the (k−1)/kth-hash estimator;
    *   - the fraction of those union-bottom-k keys present in BOTH input
    *     sketches is an unbiased Jaccard estimate (membership below the
    *     union threshold is decided exactly by each sample);
    *   - intersection NDV = Jaccard × union NDV (inclusion–exclusion in
    *     estimator form).
    *
    * Because the md5 order is deterministic, the estimates — unlike
    * HLL's — replay EXACTLY in the oracle. The per-pair rank window runs
    * over ≤ 2k sketch entries, never data. Returns (g1, g2,
    * union_ndv_r, jaccard_r, inter_ndv_r) for g1 < g2.
    */
  def kmvOverlap(
      tokens: DataFrame,
      groupCol: String,
      k: Int = 256,
      keyCol: String = "word"): DataFrame = {
    require(k >= 2, s"k ($k) must be >= 2")
    val hashSpace = math.pow(2.0, 60)
    val sk = tokens
      .groupBy(col(groupCol).as("g"))
      .agg(expr(s"kmv_ndv($keyCol, $k)").as("r"))
      .select(col("g"), col("r.ndv_est").as("nd"), col("r.sample").as("s"))
      .pin() // one row per source
    val pairs = sk.select(col("g").as("g1"), col("s").as("s1"))
      .crossJoin(sk.select(col("g").as("g2"), col("s").as("s2")))
      .where(col("g1") < col("g2"))
    val wRank = Window.partitionBy(col("g1"), col("g2")).orderBy(col("__h"))
    val wPair = Window.partitionBy(col("g1"), col("g2"))
    val ranked = pairs
      .select(col("g1"), col("g2"), col("s1"), col("s2"),
        explode(array_union(col("s1"), col("s2"))).as("__w"))
      .withColumn("__h",
        graft.functions.HexSlice.u(md5(col("__w")), 1, 15))
      .withColumn("__rn", row_number().over(wRank))
      .withColumn("__nu", count(lit(1)).over(wPair))
    ranked
      .where(col("__rn") <= k)
      .groupBy(col("g1"), col("g2"))
      .agg(
        max(col("__nu")).as("__nu"),
        max(when(col("__rn") === least(lit(k), col("__nu")), col("__h"))).as("__kth"),
        count(lit(1)).as("__nb"),
        sum(when(
          array_contains(col("s1"), col("__w")) && array_contains(col("s2"), col("__w")),
          1L).otherwise(0L)).as("__both"))
      .select(
        col("g1"), col("g2"),
        when(col("__nu") < k, col("__nu").cast("double"))
          .otherwise(Portable.pround(
            lit((k - 1).toDouble) / (col("__kth").cast("double") / hashSpace), 4))
          .as("union_ndv_r"),
        Portable.pround(col("__both").cast("double") / col("__nb"), 6).as("jaccard_r"))
      .withColumn("inter_ndv_r",
        Portable.pround(col("jaccard_r") * col("union_ndv_r"), 4))
      .orderBy("g1", "g2")
  }

  /** Pairwise Pearson correlation matrix over numeric columns — the
    * feature-redundancy screen run before any modeling/weighting step
    * (two correlated quality signals should not vote twice). One
    * aggregation pass computes every pair's `corr` simultaneously:
    * Catalyst's Corr is a DeclarativeAggregate over (n, Σx, Σy, Σxy,
    * Σx², Σy²) sufficient statistics, so all |cols|·(|cols|−1)/2 pairs
    * partially aggregate map-side in the SAME pass — the table is read
    * once regardless of how many pairs are requested. Output is the
    * upper triangle unpivoted to (col_a, col_b, corr_r), rounded 6 dp
    * [[graft.functions.Portable.pround]]-style so both engines agree.
    */
  def corrMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "need at least two columns")
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (cols(i), cols(j))
    val aggs = pairs.map { case (a, b) =>
      Portable.pround(corr(col(a).cast("double"), col(b).cast("double")), 6)
        .as(s"__c_${a}_$b")
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(pairs.map { case (a, b) =>
        struct(lit(a).as("col_a"), lit(b).as("col_b"), col(s"__c_${a}_$b").as("corr_r"))
      }: _*)).as("r"))
      .select(col("r.col_a"), col("r.col_b"), col("r.corr_r"))
  }

  /** l-diversity audit — the homogeneity-attack check [[kAnonymity]]
    * cannot see: a quasi-identifier class can be comfortably k-anonymous
    * and STILL leak the sensitive attribute if every member shares one
    * value (class of 50, all lang='ko' → membership reveals the language).
    * Flags classes whose count of DISTINCT sensitive values is below l,
    * with the class size and its diversity.
    *
    * Plan shape: Catalyst rewrites the single grouped count(DISTINCT s)
    * as two hash aggregates — (QI, s) then (QI) — both partially
    * aggregated; class-count-sized output, no window, no Expand (one
    * distinct column never triggers the multi-distinct expansion).
    */
  def lDiversity(df: DataFrame, qiCols: Seq[String], sensitiveCol: String, l: Int): DataFrame = {
    require(qiCols.nonEmpty && l >= 2, s"need QI columns and l >= 2 (l=$l)")
    df.groupBy(qiCols.map(col): _*)
      .agg(
        count(lit(1)).as("class_size"),
        countDistinct(col(sensitiveCol)).as("diversity"))
      .where(col("diversity") < l)
  }

  /** Equi-join cardinality estimate from per-key counts — the planner
    * diagnostic run BEFORE a big join: |A ⋈ B| on key k is EXACTLY
    * Σ_k cntA(k)·cntB(k), so reducing both sides to their key histograms
    * (two partial-aggregated groupBys, key-cardinality-sized) prices the
    * join — and exposes the skewed keys that dominate it — without
    * materializing a single joined row. Returns one row: the estimated
    * total, the heaviest key's contribution, and its share (the
    * salting/AQE-skew trigger; [[heavyHitters]] per side is the
    * follow-up diagnosis).
    */
  def joinCardinality(
      left: DataFrame, leftKey: String,
      right: DataFrame, rightKey: String): DataFrame = {
    val a = left.groupBy(col(leftKey).as("__k")).agg(count(lit(1)).as("__ca"))
    val b = right.groupBy(col(rightKey).as("__k")).agg(count(lit(1)).as("__cb"))
    a.join(b, "__k")
      .select(col("__k"), (col("__ca") * col("__cb")).as("__prod"))
      .agg(
        sum(col("__prod")).as("est_rows"),
        max(col("__prod")).as("max_key_rows"))
      .select(
        col("est_rows"),
        col("max_key_rows"),
        Portable.pround(col("max_key_rows").cast("double") / col("est_rows"), 6).as("max_key_share_r"))
  }

  /** Pairwise vocabulary overlap between groups (sources/snapshots):
    * Jaccard of the DISTINCT-word sets for every group pair — the
    * redundancy map a mixture designer reads before weighting sources
    * (two sources with ~identical vocabularies add diversity only once).
    *
    * Shape: the corpus reduces to the (group, word) distinct relation
    * FIRST; the pair intersection is one equijoin on the word key with
    * group-pair partial-aggregated counts (never a group×group cross
    * join over rows); set sizes join back from a group-sized relation.
    * Output is group-pairs-sized. Absent pairs (zero shared words) are
    * genuinely disjoint and don't emit — a missing pair IS the signal.
    *
    * Returns (source_a, source_b, v_a, v_b, n_shared, jaccard_r) with
    * source_a < source_b.
    */
  def sourceOverlap(tokens: DataFrame, groupCol: String): DataFrame = {
    val v  = tokens.select(col(groupCol).as("g"), col("word")).distinct()
    val sz = v.groupBy(col("g")).agg(count(lit(1)).as("vs"))
    v.as("a")
      .join(v.as("b"), col("a.word") === col("b.word") && col("a.g") < col("b.g"))
      .groupBy(col("a.g").as("source_a"), col("b.g").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(sz.select(col("g").as("source_a"), col("vs").as("v_a")), Seq("source_a"))
      .join(sz.select(col("g").as("source_b"), col("vs").as("v_b")), Seq("source_b"))
      .withColumn("jaccard_r",
        Portable.pround(
          col("n_shared").cast("double") / (col("v_a") + col("v_b") - col("n_shared")), 4))
      .select(
        col("source_a"), col("source_b"), col("v_a"), col("v_b"),
        col("n_shared"), col("jaccard_r"))
  }

  /** Heavy-hitter profile of a key column: the top-k keys by row count
    * with their share of the table — the diagnosis a pipeline runs BEFORE
    * a big join or aggregation to decide whether the key needs
    * [[graft.plans.Salting]] (one key at >1/parallelism of the rows will
    * stall its reducer) or qualifies for AQE skew handling.
    *
    * One partially-aggregated count per key, total as a broadcast scalar,
    * global top-k as TakeOrderedAndProject — no window over data rows.
    * (`approx_top_k` / CMS is the sketch alternative; exact counts here
    * because the oracle needs them, and a count groupBy compresses
    * map-side regardless of skew.)
    */
  def heavyHitters(df: DataFrame, keyCol: String, k: Int = 20): DataFrame = {
    require(k > 0, s"k ($k) must be positive")
    val total = df.agg(count(lit(1)).as("__total"))
    df.groupBy(col(keyCol))
      .agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .select(col(keyCol), col("cnt"),
        Portable.pround(col("cnt").cast("double") / col("__total"), 6).as("share_r"))
      .orderBy(col("cnt").desc, col(keyCol).asc)
      .limit(k)
  }

  /** Per-group percentile summary (p50/p90 + count). `exact = true`
    * (default, oracle-parity: Spark `percentile` == DuckDB
    * `quantile_cont`) buffers each group's values; `exact = false` is the
    * 100 TB path via `percentile_approx` — O(accuracy) memory per group
    * regardless of group size. One aggregate either way.
    */
  def groupPercentiles(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      exact: Boolean = true,
      accuracy: Int = 10000): DataFrame = {
    val pct = (f: Double) =>
      if (exact) expr(s"percentile($valueCol, $f)")
      else expr(s"cast(percentile_approx($valueCol, $f, $accuracy) as double)")
    df.groupBy(col(groupCol))
      .agg(
        round(pct(0.5), 2).as("p50"),
        round(pct(0.9), 2).as("p90"),
        count(lit(1)).as("n"))
  }

  /** Robust outlier detection per group: modified z-score over
    * median/MAD (Iglewicz–Hoaglin, z = 0.6745·(x − med)/MAD) — the
    * outlier rule that survives what it measures (mean/stddev z-scores
    * are dragged by the very outliers they hunt; the 50th percentile and
    * the median absolute deviation are 50%-breakdown estimators).
    *
    * Two percentile passes (median, then MAD over |x − med|), both
    * 6-dp-rounded and broadcast back as group metadata; the verdict pass
    * is one map-side comparison + aggregate. Same `exact`/`accuracy`
    * contract as [[winsorizedMean]]: exact `percentile` for oracle
    * parity, `percentile_approx` as the bounded-memory 100 TB path
    * (ApproxStatsSpec's family). A zero MAD (over half the group at one
    * value) yields no outlier verdicts for that group, not a division
    * blow-up.
    *
    * Returns (groupCol, n, n_outliers, max_abs_z_r) with |z| > `z0` as
    * the outlier rule and max_abs_z 4-dp rounded (0 for zero-MAD groups).
    */
  def robustOutliers(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      z0: Double = 3.5,
      exact: Boolean = true,
      accuracy: Int = 10000): DataFrame = {
    require(z0 > 0, s"z0 ($z0) must be positive")
    val r6 = (c: Column) => Portable.pround(c, 6)
    val pct = (c: String) =>
      if (exact) expr(s"percentile($c, 0.5)")
      else expr(s"cast(percentile_approx($c, 0.5, $accuracy) as double)")
    val med = df.groupBy(col(groupCol)).agg(r6(pct(valueCol)).as("__med"))
    val dev = df
      .join(broadcast(med), Seq(groupCol))
      .withColumn("__dev", abs(col(valueCol).cast("double") - col("__med")))
    val mad = dev.groupBy(col(groupCol)).agg(r6(pct("__dev")).as("__mad"))
    dev
      .join(broadcast(mad), Seq(groupCol))
      .withColumn("__z",
        when(col("__mad") > 0,
          lit(0.6745) * (col(valueCol).cast("double") - col("__med")) / col("__mad"))
          .otherwise(lit(0.0)))
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n"),
        sum(when(abs(col("__z")) > z0, 1L).otherwise(0L)).as("n_outliers"),
        Portable.pround(max(abs(col("__z"))), 4).as("max_abs_z_r"))
  }

  /** Vocabulary growth (Heaps'-law) curve: for each `bucketWidth`-doc
    * prefix of the corpus (in `idCol` order), how many NEW words appear
    * first in that bucket, and the cumulative vocabulary size — the curve
    * that says whether more data still buys vocabulary (and how big the
    * index's term dictionary gets at 100 TB).
    *
    * One corpus-sized shuffle (word → min first-doc, partial-aggregated
    * map-side); everything after runs on VOCABULARY-sized data, and the
    * final running sum windows over BUCKET rows — corpus_docs/bucketWidth
    * rows of metadata, so the unpartitioned window is deliberate, not a
    * scale hole.
    */
  def vocabGrowth(tokens: DataFrame, bucketWidth: Long = 50, idCol: String = "doc_id"): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth ($bucketWidth) must be positive")
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tokens
      .groupBy(col("word"))
      .agg(min(col(idCol)).as("first_doc"))
      .withColumn("bucket", floor(col("first_doc") / bucketWidth).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("new_words"))
      .withColumn("cum_words", sum(col("new_words")).over(w))
  }

  /** A data-quality rule: an aggregate metric over the table and the
    * inclusive [lo, hi] band it must land in to pass.
    */
  case class Rule(name: String, metric: Column, lo: Double, hi: Double)

  /** Declarative data-quality expectations (the Deequ/Great-Expectations
    * shape): every rule's metric is computed in ONE aggregation pass over
    * the table — completeness, ranges, uniqueness ratios, whatever an
    * aggregate can express — then verdicts are derived from the single
    * metadata row. A 100 TB table is scanned once no matter how many
    * rules the suite carries; this is the property that makes quality
    * gates affordable enough to run on every ingest.
    *
    * Returns (rule, value, pass) — one row per rule, values 6-dp rounded.
    */
  def expectations(df: DataFrame, rules: Seq[Rule]): DataFrame = {
    require(rules.nonEmpty, "at least one rule")
    val aliased = rules.zipWithIndex.map { case (r, i) => r.metric.cast("double").as(s"__m$i") }
    df.agg(aliased.head, aliased.tail: _*)
      .select(explode(array(rules.zipWithIndex.map { case (r, i) =>
        struct(
          lit(r.name).as("rule"),
          Portable.pround(col(s"__m$i"), 6).as("value"),
          (col(s"__m$i") >= r.lo && col(s"__m$i") <= r.hi).as("pass"))
      }: _*)).as("e"))
      .select(col("e.rule"), col("e.value"), col("e.pass"))
  }

  /** Winsorized mean per group — the robust aggregate outlier-heavy
    * numeric columns need (a handful of corrupt values can drag a plain
    * mean anywhere; clipping at [p_lo, p_hi] bounds their leverage
    * without dropping rows the way a trimmed mean does).
    *
    * Two passes: exact interpolated percentile boundaries per group
    * (6-dp-rounded so both engines clip at the IDENTICAL cut — an ulp of
    * boundary drift would otherwise flip values sitting exactly on it),
    * broadcast back, then clip + mean in one aggregate. Boundaries are
    * group-cardinality-sized metadata.
    *
    * `exact = false` is the 100 TB path: the first pass uses
    * `percentile_approx` (GK sketch, O(accuracy) memory per group)
    * instead of exact `percentile`, whose aggregation buffer holds EVERY
    * value of a group — with few groups the whole column funnels into a
    * handful of buffers and OOMs at scale. Join shape is identical; only
    * the boundary aggregate changes. Default stays exact for oracle
    * parity; `ApproxStatsSpec` pins |approx − exact|.
    *
    * Returns (groupCol, n, raw_mean, wins_mean), means 4-dp rounded.
    */
  def winsorizedMean(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      lo: Double = 0.05,
      hi: Double = 0.95,
      exact: Boolean = true,
      accuracy: Int = 10000): DataFrame = {
    require(lo >= 0 && hi <= 1 && lo < hi, s"bounds ($lo, $hi) must satisfy 0 <= lo < hi <= 1")
    val r6 = (c: Column) => Portable.pround(c, 6)
    // r21 (guide §5): Spark's exact `percentile` is a TypedImperativeAggregate
    // that buffers EVERY value of a group in one task's memory — profiled 2 s
    // + 0.6 s GC in 3 single-group tasks at sf0.1, and an OOM by construction
    // at 100 TB. Replaced with the distributed order-statistics form: one
    // value-cardinality count aggregate, a per-group cumulative window, and
    // the SAME interpolation Spark's Percentile applies —
    // position = (N−1)·f; result = (⌈pos⌉−pos)·v[⌊pos⌋] + (pos−⌊pos⌋)·v[⌈pos⌉]
    // (v[k] = k-th 0-indexed order statistic with duplicates) — so the
    // bounds are bit-compatible before the 6-dp round. Per-task state is
    // now value-cardinality-bounded and the window sort spills gracefully.
    val bounds = if (exact) {
      import org.apache.spark.sql.expressions.Window
      val vc = df.where(col(valueCol).isNotNull)
        .groupBy(col(groupCol), col(valueCol).as("__v"))
        .agg(count(lit(1)).as("__c"))
      val cum = vc
        .withColumn("__cum", sum(col("__c"))
          .over(Window.partitionBy(col(groupCol)).orderBy(col("__v"))))
        .withColumn("__tot", sum(col("__c"))
          .over(Window.partitionBy(col(groupCol))))
      def pos(f: Double) = (col("__tot") - 1).cast("double") * lit(f)
      def interp(p: Column, lowKey: Column, highKey: Column) =
        when(ceil(p) === floor(p), lowKey.cast("double"))
          .otherwise((ceil(p) - p) * lowKey.cast("double")
            + (p - floor(p)) * highKey.cast("double"))
      cum
        .groupBy(col(groupCol))
        .agg(
          max(pos(lo)).as("__plo"),
          max(pos(hi)).as("__phi"),
          min(when(col("__cum") > floor(pos(lo)), col("__v"))).as("__lo_l"),
          min(when(col("__cum") > ceil(pos(lo)), col("__v"))).as("__lo_h"),
          min(when(col("__cum") > floor(pos(hi)), col("__v"))).as("__hi_l"),
          min(when(col("__cum") > ceil(pos(hi)), col("__v"))).as("__hi_h"))
        .select(col(groupCol),
          r6(interp(col("__plo"), col("__lo_l"), col("__lo_h"))).as("b_lo"),
          r6(interp(col("__phi"), col("__hi_l"), col("__hi_h"))).as("b_hi"))
    } else
      df.groupBy(col(groupCol))
        .agg(
          r6(expr(s"cast(percentile_approx($valueCol, $lo, $accuracy) as double)")).as("b_lo"),
          r6(expr(s"cast(percentile_approx($valueCol, $hi, $accuracy) as double)")).as("b_hi"))
    df.join(broadcast(bounds), Seq(groupCol))
      .withColumn("__clip", least(greatest(col(valueCol).cast("double"), col("b_lo")), col("b_hi")))
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n"),
        Portable.pround(avg(col(valueCol)), 4).as("raw_mean"),
        Portable.pround(avg(col("__clip")), 4).as("wins_mean"))
  }

  /** Reliability diagram + expected calibration error (Naeini et al.,
    * "Obtaining Well Calibrated Probabilities Using Bayesian Binning",
    * AAAI 2015 — the standard ECE form): `confCol` ∈ [0,1] binned into
    * `bins` equal-width bins; per bin the mean confidence vs the observed
    * `labelCol` rate; ECE = Σ n/N·|conf−acc| rides every row as a
    * windowed total. ECE is computed FROM the 4-dp-rounded bin aggregates
    * so replays sum identical rationals regardless of partial-agg order.
    *
    * One groupBy over a map-side-scored scan; the window spans `bins`
    * rows, never the data — the 100 TB cost is the scan.
    *
    * Returns (bin, n, conf_r, acc_r, gap_r, ece_r).
    */
  def reliability(
      df: DataFrame,
      confCol: String,
      labelCol: String,
      bins: Int = 10): DataFrame = {
    val binned = df
      .withColumn("__bin",
        least(floor(col(confCol) * bins), lit((bins - 1).toDouble)).cast("int"))
    val agg = binned
      .groupBy(col("__bin").as("bin"))
      .agg(count(lit(1)).as("n"),
        Portable.pround(avg(col(confCol)), 4).as("conf_r"),
        Portable.pround(avg(col(labelCol)), 4).as("acc_r"))
      .withColumn("gap_r", Portable.pround(abs(col("conf_r") - col("acc_r")), 4))
      // materialized once (≤ bins rows): both the output and the ECE
      // total consume it, and lazy reuse would re-run the corpus scan
      .pin()
    // the scalar total joins back broadcast rather than through an
    // all-rows-to-one-partition window
    val tot = agg.agg(Portable.pround(
      sum(col("n").cast("double") * col("gap_r"))
        / sum(col("n").cast("double")), 6).as("ece_r"))
    agg
      .crossJoin(broadcast(tot))
      .select("bin", "n", "conf_r", "acc_r", "gap_r", "ece_r")
  }

  /** t-closeness audit (Li, Li & Venkatasubramanian, ICDE 2007) — the
    * distribution-skew attack [[kAnonymity]] and [[lDiversity]] both
    * miss: a class can be large AND diverse yet still leak because its
    * sensitive-value DISTRIBUTION differs sharply from the global one
    * (class of 500 with 90% of mass in the top length bucket vs 10%
    * globally → membership shifts an attacker's posterior). Per QI
    * class: Earth Mover's Distance between the class's distribution over
    * the ORDERED sensitive domain and the global distribution, the
    * paper's ordered-attribute form EMD = Σᵢ |Σ_{j≤i}(p_j − q_j)| /
    * (m−1).
    *
    * Determinism discipline: the cumulative gap is kept as EXACT
    * integers — |N·cumC − size·cumG| in decimal(38,0), where cumC/cumG
    * are integer running counts — so the per-class sum is
    * partial-agg-order independent; ONE double division at the end.
    * Plan: two grouped counts (class × value, global value), a
    * (classes × domain) grid via broadcast of the domain-sized global
    * relation, a window PARTITIONED BY CLASS over the m-row domain
    * (never the data), class-sized output. The corpus is scanned twice
    * (class-value counts, class sizes) — both partial-agged.
    *
    * Returns one row per QI class: (qiCols…, class_size, emd_r,
    * violates) with violates = emd_r > t on the ROUNDED value.
    */
  def tCloseness(
      df: DataFrame,
      qiCols: Seq[String],
      sensitiveCol: String,
      t: Double): DataFrame = {
    require(qiCols.nonEmpty && t > 0, s"need QI columns and t > 0 (t=$t)")
    val qi   = qiCols.map(col)
    val base = df.where(col(sensitiveCol).isNotNull)
    val glob = base.groupBy(col(sensitiveCol).as("__v")).agg(count(lit(1)).as("__gc"))
    val domM = glob.agg(count(lit(1)).as("__m"), sum(col("__gc")).as("__n"))
    val cls  = base.groupBy(qi: _*).agg(count(lit(1)).as("class_size"))
    val cc   = base.groupBy(qi :+ col(sensitiveCol).as("__v"): _*).agg(count(lit(1)).as("__c"))
    val w    = Window.partitionBy(qi: _*).orderBy(col("__v"))
    cls
      .crossJoin(broadcast(glob))
      .join(cc, qiCols :+ "__v", "left_outer")
      .na.fill(0L, Seq("__c"))
      .withColumn("__cc", sum(col("__c")).over(w))
      .withColumn("__cg", sum(col("__gc")).over(w))
      .crossJoin(broadcast(domM))
      .withColumn("__term", abs(
        col("__n").cast("decimal(38,0)") * col("__cc")
          - col("class_size").cast("decimal(38,0)") * col("__cg")))
      .groupBy(qi :+ col("class_size"): _*)
      .agg(sum(col("__term")).as("__s"), max(col("__n")).as("__gn"), max(col("__m")).as("__gm"))
      .withColumn("emd_r", Portable.pround(
        when(col("__gm") > 1,
          col("__s").cast("double") / (col("class_size").cast("double") * col("__gn"))
            / (col("__gm") - 1))
          .otherwise(0.0), 6))
      .select(qi ++ Seq(col("class_size"), col("emd_r"),
        (col("emd_r") > t).cast("int").as("violates")): _*)
  }

  /** Murphy decomposition of the Brier score (Murphy, J. Appl. Meteor.
    * 1973) from the SAME binned aggregates as [[reliability]]:
    * reliability REL = Σ nₖ(conf̄ₖ − accₖ)²/N (miscalibration — what ECE
    * measures, squared), resolution RES = Σ nₖ(accₖ − ō)²/N (how much
    * the forecasts separate outcomes — the part you WANT), uncertainty
    * UNC = ō(1−ō) (the data's irreducible floor), and the binned Brier
    * estimate REL − RES + UNC. ECE says "how wrong are the
    * probabilities"; this says whether the score is bad because of
    * CALIBRATION (fixable by remapping) or lack of RESOLUTION (needs a
    * better model) — the model-triage split.
    *
    * Every component is derived FROM the 4-dp-rounded per-bin
    * aggregates (ō from rounded accₖ, then rounded itself before UNC) —
    * the [[reliability]] replay discipline, so both engines combine
    * identical rationals. One corpus scan; everything after is
    * bins-sized.
    *
    * Returns ONE row (n, obar_r, rel_r, res_r, unc_r, brier_r).
    */
  def brierDecomposition(
      df: DataFrame,
      confCol: String,
      labelCol: String,
      bins: Int = 10): DataFrame = {
    val agg = df
      .withColumn("__bin",
        least(floor(col(confCol) * bins), lit((bins - 1).toDouble)).cast("int"))
      .groupBy(col("__bin"))
      .agg(count(lit(1)).as("n"),
        Portable.pround(avg(col(confCol)), 4).as("conf_r"),
        Portable.pround(avg(col(labelCol)), 4).as("acc_r"))
      .pin()
    val obar = agg.agg(Portable.pround(
      sum(col("n").cast("double") * col("acc_r")) / sum(col("n").cast("double")), 6).as("obar_r"))
    agg
      .crossJoin(broadcast(obar))
      .agg(
        sum(col("n")).as("n"),
        max(col("obar_r")).as("obar_r"),
        Portable.pround(
          sum(col("n").cast("double") * (col("conf_r") - col("acc_r"))
            * (col("conf_r") - col("acc_r"))) / sum(col("n").cast("double")), 6).as("rel_r"),
        Portable.pround(
          sum(col("n").cast("double") * (col("acc_r") - col("obar_r"))
            * (col("acc_r") - col("obar_r"))) / sum(col("n").cast("double")), 6).as("res_r"))
      .withColumn("unc_r", Portable.pround(col("obar_r") * (lit(1.0) - col("obar_r")), 6))
      .withColumn("brier_r", Portable.pround(
        col("rel_r") - col("res_r") + col("unc_r"), 6))
  }

  /** Isotonic calibration (pool-adjacent-violators — Ayer et al., Ann.
    * Math. Stat. 1955; Zadrozny & Elkan KDD'02 made it the classifier-
    * recalibration standard): the monotone non-decreasing fit of the
    * per-bin label rate over confidence bins — what [[reliability]]
    * DIAGNOSES, this REPAIRS (the remap table a serving layer applies to
    * raw scores). Computed via the minimax closed form
    *
    *   iso(i) = max_{j ≤ i} min_{k ≥ i} avg(y over bins j..k)
    *
    * instead of the sequential pooling loop: range averages come from
    * exact integer prefix sums over the ≤`bins` bin aggregates, and the
    * (i, j, k) enumeration is a bins³-bounded join — METADATA-sized, a
    * constant of the query, fully declarative (no driver loop, no
    * iteration), and identical on both engines since each range average
    * rounds to 6 dp before the min/max lattice (min/max over rounded
    * values are order-free).
    *
    * One corpus scan partial-aggs to the bin table; everything after is
    * bins-sized. The global prefix-sum window spans ≤`bins` rows (the
    * whitelisted metadata-bounded kind).
    *
    * Returns (bin, n, raw_rate_r, iso_rate_r) for nonempty bins; iso is
    * non-decreasing in bin by construction.
    */
  def isotonicCalibration(
      df: DataFrame,
      confCol: String,
      labelCol: String,
      bins: Int = 10): DataFrame = {
    require(bins >= 2 && bins <= 64, s"bins ($bins) must be in [2, 64]")
    val b = df
      .select(
        least(floor(col(confCol) * bins), lit((bins - 1).toDouble)).cast("int").as("bin"),
        col(labelCol).cast("long").as("__y"))
      .where(col("bin").isNotNull && col("__y").isNotNull)
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("__y")).as("__c"))
    val w = Window.orderBy(col("bin"))
    // materialized once (≤ bins rows): the range join consumes it twice
    // and the spine once; lazy reuse would re-run the corpus scan
    val pre = b
      .withColumn("__tn", sum(col("n")).over(w))
      .withColumn("__tc", sum(col("__c")).over(w))
      .pin()
    val ranges = pre
      .select(col("bin").as("__j"),
        (col("__tn") - col("n")).as("__nj"), (col("__tc") - col("__c")).as("__cj"))
      .join(broadcast(pre.select(col("bin").as("__k"), col("__tn").as("__nk"),
        col("__tc").as("__ck"))), col("__j") <= col("__k"))
      .select(col("__j"), col("__k"),
        Portable.pround((col("__ck") - col("__cj")).cast("double")
          / (col("__nk") - col("__nj")).cast("double"), 6).as("__avg"))
    pre
      .select(col("bin"), col("n"), col("__c"))
      .join(broadcast(ranges), col("__j") <= col("bin") && col("__k") >= col("bin"))
      .groupBy(col("bin"), col("n"), col("__c"), col("__j"))
      .agg(min(col("__avg")).as("__mn"))
      .groupBy(col("bin"), col("n"), col("__c"))
      .agg(max(col("__mn")).as("iso_rate_r"))
      .select(col("bin"), col("n"),
        Portable.pround(col("__c").cast("double") / col("n").cast("double"), 6)
          .as("raw_rate_r"),
        col("iso_rate_r"))
  }

  /** Empirical-Bayes rate shrinkage (Robbins 1956; Efron & Morris JASA
    * 1975; the beta-binomial method-of-moments form every CTR/quality-
    * rate dashboard uses): fit a Beta(α, β) prior to the per-group
    * success rates, then report each group's posterior mean
    * (k_g + α)/(n_g + α + β) — small groups shrink hard toward the
    * grand rate, large groups keep their own, which is exactly the
    * ranking fix for "this supplier has 1/1 = 100% returns". MoM:
    * m = mean(p̂_g), v = var(p̂_g), α+β = m(1−m)/v − 1, α = m(α+β).
    *
    * Parity discipline: each group rate FLOORS to a 1e6-scaled long, so
    * the across-groups moment sums are exact integers (group counts can
    * be huge; double accumulation would be partial-agg-order exposed);
    * α and β are fixed-order scalars off those integers, rounded to 6dp
    * BEFORE the posterior means (derive-from-rounded). Degenerate
    * priors — zero across-group variance, or MoM α+β ≤ 0 (rate spread
    * exceeding what any beta can carry) — report shrunk = raw with
    * NULL α/β rather than a garbage prior.
    *
    * Two partial-agg passes (group cells, then the G-sized moment
    * aggregate broadcast back); nothing group-cardinality-sized beyond
    * the cells themselves.
    *
    * Returns (group, n, k, raw_r, shrunk_r, prior_a_r, prior_b_r).
    */
  def ebShrinkRates(
      df: DataFrame,
      groupCol: String,
      successCol: String): DataFrame = {
    // materialized once (group-cardinality-sized): both the moment pass
    // and the output consume it — lazy reuse would scan the corpus twice
    val cells = df
      .select(col(groupCol).as("__g"), col(successCol).cast("long").as("__y"))
      .where(col("__g").isNotNull && col("__y").isNotNull)
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("n"), sum(col("__y")).as("k"))
      .withColumn("__p6",
        floor(col("k").cast("double") / col("n").cast("double") * 1e6 + lit(0.5))
          .cast("long"))
      .pin()
    val mom = cells.agg(
      count(lit(1)).as("__gn"),
      sum(col("__p6")).as("__s1"),
      sum(col("__p6").cast("decimal(19,0)") * col("__p6").cast("decimal(19,0)"))
        .cast("decimal(38,0)").as("__s2"))
    val gnD = col("__gn").cast("double")
    val m = col("__s1").cast("double") / (gnD * 1e6)
    val v = when(col("__gn") >= 2L,
      (col("__s2").cast("double") / 1e12
        - (col("__s1").cast("double") / 1e6) * (col("__s1").cast("double") / 1e6) / gnD)
        / (gnD - lit(1.0)))
    val ab = m * (lit(1.0) - m) / v - lit(1.0)
    val prior = mom.select(
      Portable.pround(when(v > 0.0 && ab > 0.0, m * ab), 6).as("prior_a_r"),
      Portable.pround(when(v > 0.0 && ab > 0.0, (lit(1.0) - m) * ab), 6).as("prior_b_r"))
    cells
      .crossJoin(broadcast(prior))
      .select(col("__g").as(groupCol), col("n"), col("k"),
        Portable.pround(col("k").cast("double") / col("n").cast("double"), 6).as("raw_r"),
        Portable.pround(
          when(col("prior_a_r").isNotNull,
            (col("k").cast("double") + col("prior_a_r"))
              / (col("n").cast("double") + col("prior_a_r") + col("prior_b_r")))
            .otherwise(col("k").cast("double") / col("n").cast("double")), 6)
          .as("shrunk_r"),
        col("prior_a_r"), col("prior_b_r"))
  }

  /** Group-sequential SPRT (Wald, Ann. Math. Stat. 1945): the sequential
    * probability ratio test for a Bernoulli rate, H0: p = p0 vs
    * H1: p = p1, evaluated at HOURLY looks — the early-stopping monitor
    * every long-running experiment/canary wants ("stop the rollout the
    * hour the evidence clears the bar", with α/β guarantees Wald's
    * boundaries A = ln((1−β)/α), B = ln(β/(1−α)) carry). Fully-
    * sequential per-event checking needs a row-ordered scan; production
    * monitors evaluate in batches anyway, and hourly looks keep ALL
    * state hour-domain bounded (the group-sequential form, documented).
    *
    * LLR after hour h is k_h·ln(p1/p0) + (n_h−k_h)·ln((1−p1)/(1−p0))
    * over CUMULATIVE counts — the two log terms are Scala-computed
    * literals shared with the oracle (the rboWeights discipline), the
    * cumulative counts exact integers from one partial agg + an hour-
    * domain window, the LLR one fixed-order scalar rounded to 6 dp
    * BEFORE the boundary compare, and the boundaries themselves round
    * the same way — so the crossing hour is cross-engine identical.
    *
    * Returns ONE row (n, k, llr_final_r, decision, cross_h, n_at_cross):
    * decision = 'accept_h1'/'accept_h0' from the FIRST boundary crossing
    * (the sequential-test semantics — evidence after the stop is not
    * consulted), 'continue' with NULL cross columns when no look
    * crosses.
    */
  def sprtBernoulli(
      events: DataFrame,
      successCol: String,
      tsCol: String,
      p0: Double,
      p1: Double,
      alpha: Double = 0.05,
      beta: Double = 0.05): DataFrame = {
    require(p0 > 0 && p0 < 1 && p1 > 0 && p1 < 1 && p0 != p1,
      s"p0 ($p0), p1 ($p1) must be distinct and in (0,1)")
    require(alpha > 0 && alpha < 1 && beta > 0 && beta < 1, "alpha/beta must be in (0,1)")
    def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    val c1 = math.log(p1 / p0)
    val c0 = math.log((1 - p1) / (1 - p0))
    val bndA = r6(math.log((1 - beta) / alpha))
    val bndB = r6(math.log(beta / (1 - alpha)))
    val hourly = events
      .select(floor(col(tsCol).cast("long") / 3600L).cast("long").as("__h"),
        col(successCol).cast("long").as("__y"))
      // guard BOTH inputs: a null timestamp would mint a null hour bucket
      // that Spark's window ORDER BY sorts NULLS FIRST while DuckDB sorts
      // NULLS LAST — the cumulative counts (and hence the first-crossing
      // hour) would diverge cross-engine on dirty input
      .where(col("__y").isNotNull && col("__h").isNotNull)
      .groupBy(col("__h"))
      .agg(count(lit(1)).as("__n"), sum(col("__y")).as("__k"))
    val w = Window.orderBy(col("__h"))
    val looks = hourly
      .withColumn("__cn", sum(col("__n")).over(w))
      .withColumn("__ck", sum(col("__k")).over(w))
      .select(col("__h"), col("__cn"), col("__ck"),
        Portable.pround(
          col("__ck").cast("double") * c1
            + (col("__cn") - col("__ck")).cast("double") * c0, 6).as("__llr"))
      // hour-domain rows; materialized once for the crossing scan + the
      // final-look readout
      .pin()
    val cross = looks
      .where(col("__llr") >= bndA || col("__llr") <= bndB)
      .orderBy(col("__h"))
      .limit(1)
      .select(
        when(col("__llr") >= bndA, lit("accept_h1")).otherwise(lit("accept_h0"))
          .as("decision"),
        col("__h").as("cross_h"), col("__cn").as("n_at_cross"))
    val fin = looks.orderBy(col("__h").desc).limit(1)
      .select(col("__cn").as("n"), col("__ck").as("k"),
        col("__llr").as("llr_final_r"))
    // the crossing row (priority 0) wins over the 'continue' fallback —
    // a bare union+limit would pick an arbitrary row
    val verdict = cross.withColumn("__pr", lit(0))
      .unionByName(fin.select(lit("continue").as("decision"),
        lit(null).cast("long").as("cross_h"), lit(null).cast("long").as("n_at_cross"),
        lit(1).as("__pr")))
      .orderBy(col("__pr"))
      .limit(1)
      .drop("__pr")
    fin.crossJoin(verdict)
      .select(col("n"), col("k"), col("llr_final_r"),
        col("decision"), col("cross_h"), col("n_at_cross"))
  }

  /** Post-stratified treatment-effect estimate (direct standardization —
    * Cochran, Biometrics 1968): ATE_ps = Σ_g (N_g/N)·(ȳ_{t,g} − ȳ_{c,g}),
    * the per-stratum gap averaged with the stratum's POPULATION share —
    * the one-line confounder adjustment when treatment assignment is
    * imbalanced across a known stratum (the observational complement of
    * [[cupedAdjust]]'s variance reduction and [[diffInDiff]]'s trend
    * subtraction; [[cmh]] is its binary-outcome test sibling). Reported
    * NEXT TO the unadjusted diff so the confounding delta is visible.
    *
    * Strata missing an arm cannot estimate a gap: they are dropped and
    * the weights renormalize over the usable strata (reported as
    * n_strata vs n_used — the standard positivity-violation handling).
    *
    * Parity: per-(stratum, arm) exact decimal sums from ONE partial-agg
    * pass; each stratum gap rounds to 6 dp, 1e6-scales to an exact long,
    * and the weighted sum is an exact integer Σ N_g·D_g with ONE double
    * division at the end — no double accumulation anywhere, so the
    * estimate replays bit-identically whatever the stratum count.
    *
    * Returns one row (n, n_strata, n_used, diff_raw_r, ate_ps_r);
    * ate_ps_r is NULL when no stratum has both arms.
    */
  def postStratifiedAte(
      df: DataFrame,
      treatCol: String,
      valueCol: String,
      stratumCol: String): DataFrame = {
    val rows = df
      .select(col(treatCol).cast("boolean").as("__t"),
        col(valueCol).cast("long").as("__x"), col(stratumCol).as("__g"))
      .where(col("__t").isNotNull && col("__x").isNotNull && col("__g").isNotNull)
    // one corpus scan: the stratum cells are materialized once
    // (stratum-cardinality-sized) and BOTH the per-stratum gaps and the
    // overall unadjusted diff aggregate from them
    val cells = rows
      .groupBy(col("__g"))
      .agg(
        count(lit(1)).as("__n"),
        sum(col("__t").cast("long")).as("__nt"),
        sum(when(col("__t"), col("__x")).otherwise(0L).cast("decimal(38,0)")).as("__st"),
        sum(when(!col("__t"), col("__x")).otherwise(0L).cast("decimal(38,0)")).as("__sc"))
      .pin()
      .withColumn("__nc", col("__n") - col("__nt"))
      // the 1e6-scaled long is computed DIRECTLY (floor(x·1e6 + ½)) —
      // pround(x,6)·1e6 would round-trip k/1e6·1e6 through two IEEE
      // roundings and is not guaranteed to land back on the integer
      .withColumn("__d6",
        when(col("__nt") > 0L && col("__nc") > 0L,
          floor((col("__st").cast("double") / col("__nt").cast("double")
            - col("__sc").cast("double") / col("__nc").cast("double")) * 1e6 + lit(0.5)))
          .cast("long"))
    val overall = cells.agg(
      sum(col("__n")).as("n"),
      sum(col("__nt")).as("__ont"),
      sum(col("__st")).cast("decimal(38,0)").as("__ost"),
      sum(col("__sc")).cast("decimal(38,0)").as("__osc"))
    cells.agg(
      count(lit(1)).as("n_strata"),
      count(col("__d6")).as("n_used"),
      sum(when(col("__d6").isNotNull, col("__n")).otherwise(0L)).as("__nu"),
      // decimal operands BEFORE the multiply: N_g·D_6 in long overflows
      // once stratum sizes meet 1e6-scaled cent-magnitude gaps at scale
      sum(col("__n").cast("decimal(19,0)") * col("__d6").cast("decimal(19,0)"))
        .cast("decimal(38,0)").as("__wd"))
      .crossJoin(broadcast(overall))
      .select(
        col("n"), col("n_strata"), col("n_used"),
        Portable.pround(
          col("__ost").cast("double") / col("__ont").cast("double")
            - col("__osc").cast("double") / (col("n") - col("__ont")).cast("double"), 6)
          .as("diff_raw_r"),
        Portable.pround(
          when(col("__nu") > 0L,
            col("__wd").cast("double") / (col("__nu").cast("double") * 1e6)), 6)
          .as("ate_ps_r"))
  }

  /** Difference-in-differences estimate (Card & Krueger AER'94 made it
    * the applied-econ workhorse; in pipelines it's the launch-impact
    * readout): DiD = (T,post − T,pre) − (C,post − C,pre) over the four
    * cell means — the control's trend subtracts out whatever moved both
    * groups, which a naive before/after cannot do. Cell means derive
    * from EXACT sums (Σv per cell via decimal for integer-valued v;
    * double Σ for fractional v is the caller's precision), so the
    * estimate replays deterministically; one partial-agg pass, 4-cell
    * state.
    *
    * Returns ONE row (n_00..n_11, m_00_r..m_11_r, did_r) where the first
    * index is treated and the second is post.
    */
  def diffInDiff(
      df: DataFrame,
      treatedCol: String,
      postCol: String,
      valueCol: String): DataFrame = {
    val cells = df
      .where(col(valueCol).isNotNull)
      .groupBy(col(treatedCol).cast("int").as("__t"), col(postCol).cast("int").as("__p"))
      .agg(count(lit(1)).as("__n"), sum(col(valueCol).cast("double")).as("__s"))
      .withColumn("__m", col("__s") / col("__n"))
    def cell(t: Int, p: Int, c: String) =
      max(when(col("__t") === t && col("__p") === p, col(c))).as(s"__${c.drop(2)}_$t$p")
    cells
      .agg(
        cell(0, 0, "__n"), cell(0, 1, "__n"), cell(1, 0, "__n"), cell(1, 1, "__n"),
        cell(0, 0, "__m"), cell(0, 1, "__m"), cell(1, 0, "__m"), cell(1, 1, "__m"))
      .select(
        col("__n_00").as("n_00"), col("__n_01").as("n_01"),
        col("__n_10").as("n_10"), col("__n_11").as("n_11"),
        Portable.pround(col("__m_00"), 4).as("m_00_r"),
        Portable.pround(col("__m_01"), 4).as("m_01_r"),
        Portable.pround(col("__m_10"), 4).as("m_10_r"),
        Portable.pround(col("__m_11"), 4).as("m_11_r"))
      // DiD from the ROUNDED cell means, so both engines subtract the
      // identical rationals
      .withColumn("did_r", Portable.pround(
        (col("m_11_r") - col("m_10_r")) - (col("m_01_r") - col("m_00_r")), 4))
  }

  /** Minimum detectable effect per group (the experiment-sizing readout;
    * standard two-sample normal-approximation power formula): at
    * significance α (two-sided) and power 1−β, an equal-split experiment
    * over this group can detect a mean shift of
    * MDE = (z_{1−α/2} + z_{1−β})·√(2σ²/n) — the "is this group even big
    * enough to test on" dial that belongs next to [[welchTTest]] (did it
    * move), [[cupedAdjust]] (shrink σ²) and [[bootstrapMeanCi]] (error
    * bars). σ² from EXACT integer sums (the Welch discipline); the z
    * constants are Scala literals shared verbatim with the oracle; also
    * reported relative to the mean (mde_rel_r) since "±38 chars" means
    * nothing without scale.
    *
    * Returns one row per group: (groupCol, n, mean_r, var_r, mde_r,
    * mde_rel_r).
    */
  def minDetectableEffect(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      zAlpha: Double = 1.959963984540054, // z_{0.975}
      zBeta: Double = 0.8416212335729142  // z_{0.80}
  ): DataFrame = {
    val x = col(valueCol).cast("decimal(19,0)")
    df
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(x).cast("decimal(38,0)").as("__s1"),
        sum(x * x).as("__s2"))
      .where(col("n") >= 2)
      .withColumn("__m", col("__s1").cast("double") / col("n"))
      .withColumn("__v",
        (col("__s2").cast("double")
          - col("__s1").cast("double") * col("__s1").cast("double") / col("n"))
          / (col("n") - 1))
      .where(col("__v") > 0.0 && col("__m") > 0.0)
      .withColumn("mde_r", Portable.pround(
        lit(zAlpha + zBeta) * sqrt(lit(2.0) * col("__v") / col("n")), 4))
      .select(col(groupCol), col("n"),
        Portable.pround(col("__m"), 4).as("mean_r"),
        Portable.pround(col("__v"), 4).as("var_r"),
        col("mde_r"),
        Portable.pround(col("mde_r") / Portable.pround(col("__m"), 4), 6).as("mde_rel_r"))
  }

  /** CUPED variance reduction (Deng, Xu, Kohavi & Walker, WSDM 2013 —
    * the industry-standard A/B sensitivity lever): adjust the metric by
    * a pre-experiment covariate, Y' = Y − θ(X − X̄) with
    * θ = cov(X,Y)/var(X); the adjusted variance is ANALYTICALLY
    * var(Y)·(1 − ρ²), so the whole readout — θ, both variances, the
    * reduction — derives from ONE pass of five sufficient sums over the
    * per-unit relation (no second adjusted-value scan). The reduction
    * factor is exactly ρ²: a pre-period covariate correlated 0.7 with
    * the metric halves the variance, i.e. halves the sample size every
    * experiment needs.
    *
    * Per-unit x/y are rounded to 6 dp and SCALED TO INTEGERS before the
    * sums — the five sufficient sums are decimal(38,0) additions of
    * exact integers (the [[welchTTest]] discipline), so no partial-agg
    * order can flip a bit and both engines provably combine identical
    * rationals (r13 advice: double sums of 6-dp-rounded inputs were NOT
    * order-independent, only empirically stable). The scale factors
    * divide back out in one scalar double step per statistic; sample
    * (n−1) denominators; var(X) = 0 (a constant covariate) yields θ = 0
    * and no reduction rather than a divide-by-zero.
    *
    * Returns ONE row (n, theta_r, var_y_r, var_adj_r, reduction_r).
    */
  def cupedAdjust(perUnit: DataFrame, xCol: String, yCol: String): DataFrame = {
    // floor(v·1e6 + 0.5) is exactly Portable.pround's integer numerator:
    // the 6-dp-rounded value scaled by 1e6, exact in decimal(19,0)
    val xi = floor(col(xCol).cast("double") * 1e6 + 0.5).cast("decimal(19,0)")
    val yi = floor(col(yCol).cast("double") * 1e6 + 0.5).cast("decimal(19,0)")
    perUnit
      .where(col(xCol).isNotNull && col(yCol).isNotNull)
      .agg(count(lit(1)).as("n"),
        sum(xi).cast("decimal(38,0)").as("__sx"), sum(yi).cast("decimal(38,0)").as("__sy"),
        sum(xi * yi).cast("decimal(38,0)").as("__sxy"),
        sum(xi * xi).cast("decimal(38,0)").as("__sxx"),
        sum(yi * yi).cast("decimal(38,0)").as("__syy"))
      .where(col("n") >= 2)
      // one scalar double expression per statistic, scales divided out in
      // the SAME op order the oracle SQL writes textually
      .withColumn("__vx",
        (col("__sxx").cast("double") / 1e12
          - (col("__sx").cast("double") / 1e6) * (col("__sx").cast("double") / 1e6) / col("n"))
          / (col("n") - 1))
      .withColumn("__vy",
        (col("__syy").cast("double") / 1e12
          - (col("__sy").cast("double") / 1e6) * (col("__sy").cast("double") / 1e6) / col("n"))
          / (col("n") - 1))
      .withColumn("__cxy",
        (col("__sxy").cast("double") / 1e12
          - (col("__sx").cast("double") / 1e6) * (col("__sy").cast("double") / 1e6) / col("n"))
          / (col("n") - 1))
      .withColumn("theta_r", Portable.pround(
        when(col("__vx") > 0, col("__cxy") / col("__vx")).otherwise(0.0), 6))
      .withColumn("var_y_r", Portable.pround(col("__vy"), 6))
      .withColumn("var_adj_r", Portable.pround(
        when(col("__vx") > 0,
          col("__vy") - col("__cxy") * col("__cxy") / col("__vx")).otherwise(col("__vy")), 6))
      .withColumn("reduction_r", Portable.pround(
        when(col("var_y_r") > 0,
          lit(1.0) - col("var_adj_r") / col("var_y_r")).otherwise(0.0), 4))
      .select(col("n"), col("theta_r"), col("var_y_r"), col("var_adj_r"), col("reduction_r"))
  }

  /** Exact ROC AUC via the rank-sum identity (Mann–Whitney U): AUC =
    * P(score⁺ > score⁻) + ½P(tie) — the threshold-free ranking metric
    * every classifier eval leads with (ECE says "are the probabilities
    * honest", AUC says "does the score ORDER the classes at all").
    *
    * Scale + determinism: reduce to per-DISTINCT-SCORE (pos, neg)
    * counts, then AUC·2PN = Σ_s pos(s)·(2·negBelow(s) + neg(s)) — ALL
    * INTEGER (the ½-tie term stays integral in 2× units), with
    * negBelow from the two-pass chunked prefix over the score-value
    * domain (the [[spearman]]/ksTest discipline: no full-table sort, the
    * only global window spans chunk totals). One double division at the
    * end.
    *
    * Returns ONE row (n_pos, n_neg, auc_r).
    */
  def rocAuc(
      df: DataFrame,
      scoreCol: String,
      labelCol: String,
      chunkWidth: Double = 0.05): DataFrame = {
    require(chunkWidth > 0, s"chunkWidth ($chunkWidth) must be positive")
    val perS = df
      .where(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .groupBy(col(scoreCol).cast("double").as("__s"))
      .agg(sum((col(labelCol) === 1).cast("long")).as("__p"),
        sum((col(labelCol) =!= 1).cast("long")).as("__n"))
      // coalesce pins __chunk statically non-nullable (floor-of-divide is
      // nullable to Catalyst even over a non-null key): otherwise the
      // bases join's inferred isnotnull(__chunk) pushes below the
      // aggregate, substituting the WHOLE grouping expression into a scan
      // filter — on an expensive score expression that re-derives it per
      // row (the r14 q_auc audited-plan residual)
      .withColumn("__chunk",
        coalesce(floor(col("__s") / chunkWidth).cast("long"), lit(0L)))
    val wChunks = Window.orderBy(col("__chunk"))
    val bases = perS.groupBy(col("__chunk")).agg(sum(col("__n")).as("__cn"))
      .withColumn("__base", sum(col("__cn")).over(wChunks) - col("__cn"))
      .select(col("__chunk"), col("__base"))
    val wLocal = Window.partitionBy(col("__chunk")).orderBy(col("__s"))
    perS
      .join(broadcast(bases), Seq("__chunk"))
      .withColumn("__negBelow", col("__base") + sum(col("__n")).over(wLocal) - col("__n"))
      .agg(
        sum(col("__p")).as("n_pos"),
        sum(col("__n")).as("n_neg"),
        sum(col("__p") * (lit(2) * col("__negBelow") + col("__n"))).as("__u2"))
      .select(col("n_pos"), col("n_neg"),
        Portable.pround(
          // single-class input has no ranking to measure: NULL, not an
          // ANSI divide-by-zero throw
          when(col("n_pos") > 0 && col("n_neg") > 0,
            col("__u2").cast("double") / (lit(2.0) * col("n_pos") * col("n_neg"))),
          6).as("auc_r"))
  }

  /** DETERMINISTIC Poisson bootstrap confidence interval for a group
    * mean (Efron 1979; the Poisson(1)-weight form is the streaming/
    * map-reduce standard — Chamandy et al., "Estimating Uncertainty for
    * Massive Data Streams", Google TR 2012): every metric a pipeline
    * reports deserves an error bar, and at corpus scale the only
    * tractable bootstrap is weight-per-row, not resample-and-copy. Each
    * of `b` replicas draws per-row Poisson(1) weights through the
    * engine's md5 inverse-CDF discipline (same construction as
    * dpNoisyCounts), so the ENTIRE interval — every replica mean, hence
    * the quantile endpoints — replays exactly cross-engine and across
    * reruns (error bars that move between identical runs are noise, not
    * measurement).
    *
    * Determinism detail: weights and values are integers, so every
    * replica's Σw·x and Σw are EXACT in doubles below 2^53 — replica
    * means are rationals, immune to partial-agg order. The per-group
    * state after the replica aggregate is b means (sorted array, CI by
    * disc indices ⌈0.025·b'⌉ / ⌈0.975·b'⌉ over the b' surviving
    * replicas); work is b× the scan, never data² — at 100 TB run it on
    * the metric's GROUPED aggregates or a deterministic sample, same as
    * any bootstrap.
    *
    * Returns (groupCol, n, mean_r, lo_r, hi_r).
    */
  def bootstrapMeanCi(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      idCol: String,
      b: Int = 32,
      salt: String = "boot"): DataFrame = {
    require(b >= 4, s"b ($b) must be at least 4")
    // Poisson(1) CDF breakpoints as SCALA doubles (k = 0..8, tail mass
    // to w = 9) — emitted verbatim into the oracle, so both engines
    // compare the identical constants against the identical md5 uniform
    val cdf = (0 to 8).map { k =>
      (0 to k).map { i =>
        var f = 1.0; (1 to i).foreach(f *= _); 1.0 / f
      }.sum * math.exp(-1.0)
    }
    val u = graft.functions.HexSlice.u(md5(concat(
      lit(s"$salt:"), col("__rep").cast("string"), lit(":"), col(idCol).cast("string"))), 1, 13).cast("double") / lit(4503599627370496.0)
    val w = cdf.zipWithIndex.foldRight(lit(9): Column) {
      case ((c, k), acc) => when(u < c, k).otherwise(acc)
    }
    // NULL metric rows would contribute their Poisson weight to Σw but
    // nothing to Σw·x (and inflate n but not Σx), biasing every replica
    // mean — drop them up front so weights, counts and sums all see the
    // same row set (the diffInDiff / minDetectableEffect discipline;
    // r13 advice)
    val nn = df.where(col(valueCol).isNotNull)
    val replicas = nn
      .withColumn("__rep", explode(sequence(lit(0), lit(b - 1))))
      .withColumn("__w", w)
      .groupBy(col(groupCol), col("__rep"))
      .agg(sum(col("__w") * col(valueCol)).as("__swx"), sum(col("__w")).as("__sw"))
      .where(col("__sw") > 0)
      .withColumn("__m", col("__swx").cast("double") / col("__sw"))
      .groupBy(col(groupCol))
      .agg(sort_array(collect_list(col("__m"))).as("__ms"))
    val base = nn.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"), sum(col(valueCol)).as("__s"))
    base.join(replicas, Seq(groupCol))
      .select(col(groupCol), col("n"),
        Portable.pround(col("__s").cast("double") / col("n"), 4).as("mean_r"),
        Portable.pround(element_at(col("__ms"),
          greatest(lit(1), ceil(lit(0.025) * size(col("__ms"))).cast("int"))), 4).as("lo_r"),
        Portable.pround(element_at(col("__ms"),
          greatest(lit(1), ceil(lit(0.975) * size(col("__ms"))).cast("int"))), 4).as("hi_r"))
  }

  /** Split-conformal coverage check (Vovk et al.; Angelopoulos & Bates,
    * "A Gentle Introduction to Conformal Prediction", 2023): hash-split
    * the scored rows into calibration/eval, take q̂ = the k-th smallest
    * calibration nonconformity (|conf − label|, 6-dp rounded) with
    * k = ⌈(n_cal+1)(1−α)⌉, and measure eval coverage P(residual ≤ q̂) —
    * the finite-sample ≥ 1−α guarantee any "the classifier is 90% sure"
    * claim should be audited against before thresholds ship.
    *
    * Scale shape: the k-th order statistic comes from per-DISTINCT-value
    * counts + the two-pass chunked prefix sum (the [[spearman]]/ksTest
    * discipline — the only global window is over the ≤(1/chunkWidth+1)
    * CHUNK rows, never residuals); the split is the deterministic
    * [[graft.operators.Sampling.sampleHash]] draw, so split, q̂ and
    * coverage all replay exactly cross-engine. If k exceeds n_cal (tiny
    * calibration sets) q̂ is +∞ — trivially covered, reported as such.
    *
    * Returns ONE row (n_cal, n_eval, qhat_r, target, coverage_r).
    */
  def conformalCoverage(
      scored: DataFrame,
      confCol: String,
      labelCol: String,
      idCol: String,
      calFrac: Double = 0.8,
      alpha: Double = 0.1,
      chunkWidth: Double = 0.05,
      salt: String = "conformal"): DataFrame = {
    require(calFrac > 0 && calFrac < 1 && alpha > 0 && alpha < 1 && chunkWidth > 0,
      "need calFrac, alpha in (0,1) and positive chunkWidth")
    import graft.operators.Sampling
    val base = scored.select(
      Portable.pround(abs(col(confCol) - col(labelCol)), 6).as("__r"),
      (Sampling.sampleHash(col(idCol), salt) < lit(Sampling.threshold(calFrac)))
        .as("__cal"))
    val cal  = base.where(col("__cal"))
    val nCal = cal.agg(count(lit(1)).as("n_cal"))
    val perV = cal.groupBy(col("__r")).agg(count(lit(1)).as("__c"))
      // coalesce: see rocAuc — folds the join-inferred isnotnull instead
      // of letting it re-derive the nonconformity expression at the scan
      .withColumn("__chunk",
        coalesce(floor(col("__r") / chunkWidth).cast("long"), lit(0L)))
    val wChunks = Window.orderBy(col("__chunk"))
    val bases = perV.groupBy(col("__chunk")).agg(sum(col("__c")).as("__s"))
      .withColumn("__base", sum(col("__s")).over(wChunks) - col("__s"))
      .select(col("__chunk"), col("__base"))
    val wLocal = Window.partitionBy(col("__chunk")).orderBy(col("__r"))
    val qhat = perV
      .join(broadcast(bases), Seq("__chunk"))
      .withColumn("__cum", col("__base") + sum(col("__c")).over(wLocal))
      .crossJoin(broadcast(nCal))
      .where(col("__cum") >= ceil((col("n_cal") + 1) * lit(1.0 - alpha)))
      .orderBy(col("__r").asc)
      .limit(1)
      .select(col("__r").as("qhat_r"), col("n_cal"))
      // k > n_cal (tiny calibration set): conformal q̂ is +∞ — the
      // sentinel loses to any real order statistic in the min below
      .unionByName(nCal.select(lit(Double.PositiveInfinity).as("qhat_r"), col("n_cal")))
      .orderBy(col("qhat_r").asc)
      .limit(1)
    base.where(!col("__cal"))
      .crossJoin(broadcast(qhat))
      .agg(
        max(col("n_cal")).as("n_cal"),
        count(lit(1)).as("n_eval"),
        max(col("qhat_r")).as("qhat_r"),
        Portable.pround(avg((col("__r") <= col("qhat_r")).cast("double")), 4).as("coverage_r"))
      .select(col("n_cal"), col("n_eval"), col("qhat_r"),
        lit(1.0 - alpha).as("target"), col("coverage_r"))
  }

  /** Differential-privacy-SHAPED noisy counts (Dwork et al. 2006): per
    * group, count + Laplace(1/ε) noise via the inverse CDF — the release
    * mechanism for count statistics over sensitive corpora (each count
    * has sensitivity 1, so Laplace(1/ε) gives ε-DP). The noise draw here
    * is DETERMINISTIC — a per-(salt, group) md5 uniform through
    * x = −(1/ε)·sgn(u−½)·ln(1−2|u−½|) — so the release replays exactly
    * for the oracle and for reruns. REAL DP requires the salt to be a
    * secret random seed (a public salt lets anyone re-derive the noise);
    * the DATAFLOW — per-cell draw, inverse CDF, clamped-at-zero release —
    * is exactly what a production mechanism runs, which is what this
    * pins. Beside [[kAnonymity]]/[[lDiversity]] (which audit the data),
    * this protects the OUTPUT.
    *
    * One partial-agg count; the noise is a map-side projection over the
    * group-cardinality result.
    *
    * Returns (groupCol, n, noise_r, released_r) — released clamped ≥ 0,
    * both 4-dp.
    */
  /** McNemar's paired test (McNemar, Psychometrika 1947; the
    * continuity-corrected form): do two classifiers scored on the SAME
    * rows differ, judged only on the DISCORDANT pairs — b (A right, B
    * wrong) vs c (A wrong, B right), χ² = (|b−c|−1)²/(b+c). The
    * model-comparison test an unpaired accuracy diff gets wrong: shared
    * examples correlate the errors, and the concordant mass carries no
    * information about the difference. One partial-agg pass; every
    * count is an exact integer, χ² one fixed-order scalar expression.
    *
    * Returns one row (n, b, c, acc_a_r, acc_b_r, chi2_r); chi2 reads
    * NULL when there are no discordant pairs (the test is undefined —
    * the classifiers are indistinguishable on this sample).
    */
  def mcnemar(
      df: DataFrame,
      predACol: String,
      predBCol: String,
      labelCol: String): DataFrame = {
    val rows = df
      .select((col(predACol) === col(labelCol)).cast("long").as("__a"),
        (col(predBCol) === col(labelCol)).cast("long").as("__b"))
      .where(col(predACol).isNotNull && col(predBCol).isNotNull && col(labelCol).isNotNull)
    rows
      .agg(
        count(lit(1)).as("n"),
        sum(col("__a")).as("__ca"),
        sum(col("__b")).as("__cb"),
        sum(when(col("__a") === 1 && col("__b") === 0, 1L).otherwise(0L)).as("b"),
        sum(when(col("__a") === 0 && col("__b") === 1, 1L).otherwise(0L)).as("c"))
      .select(col("n"), col("b"), col("c"),
        Portable.pround(col("__ca").cast("double") / col("n").cast("double"), 4)
          .as("acc_a_r"),
        Portable.pround(col("__cb").cast("double") / col("n").cast("double"), 4)
          .as("acc_b_r"),
        Portable.pround(
          when(col("b") + col("c") > 0,
            (abs(col("b") - col("c")) - 1).cast("double")
              * (abs(col("b") - col("c")) - 1).cast("double")
              / (col("b") + col("c")).cast("double")),
          4).as("chi2_r"))
  }

  /** Hill tail-index estimator (Hill, Annals of Statistics 1975): the
    * MLE of the Pareto exponent from the top-k order statistics,
    * α̂ = k / Σ_{i≤k} ln(x_(i)/x_(k+1)) — the principled answer to "HOW
    * heavy is this distribution's tail" where [[zipfFit]]'s log-log
    * regression describes the whole curve. The heavy-tail dial behind
    * shuffle-skew planning (α < 2 ⇒ unbounded variance: expect hot
    * keys; the salting advisor's trigger condition).
    *
    * Plan shape: one TakeOrderedAndProject of k+1 rows (total
    * (value DESC, tie ASC) order), the boundary statistic x_(k+1) as a
    * broadcast min over that bounded relation, no window anywhere.
    * Boundary ties cost nothing: any row tied with x_(k+1) contributes
    * ln(1) = 0, so summing all k+1 rows equals the top-k sum exactly.
    *
    * Returns one row (k, xk1, alpha_r); degenerate tails (all top
    * values equal ⇒ Σ = 0) read NULL.
    */
  def hillTail(
      df: DataFrame,
      valueCol: String,
      tieCol: String,
      k: Int = 200): DataFrame = {
    require(k >= 1, s"k ($k) must be >= 1")
    val top = df
      .select(col(valueCol).cast("double").as("__v"), col(tieCol).as("__t"))
      .where(col("__v").isNotNull && col("__v") > 0)
      .orderBy(col("__v").desc, col("__t").asc)
      .limit(k + 1)
      .pin() // consumed by the boundary min AND the log sum
    val xk1 = broadcast(top.agg(min(col("__v")).as("xk1")))
    top.crossJoin(xk1)
      .agg(first(col("xk1")).as("xk1"),
        sum(log(col("__v") / col("xk1"))).as("__sl"))
      .select(lit(k.toLong).as("k"), col("xk1"),
        Portable.pround(
          when(col("__sl") > 0.0, lit(k.toDouble) / col("__sl")), 6).as("alpha_r"))
  }

  /** Decile gains table (the direct-marketing "lift chart" standard):
    * rank rows by score DESC, cut into `buckets` quantile slices from
    * strictly-ABOVE counts, and report per slice the positive rate,
    * cumulative capture and cumulative lift — the operational readout
    * of a ranking model ([[rocAuc]] says whether the ranking is good;
    * the gains table says what you GET by acting on the top d deciles).
    *
    * Scale shape: the slice assignment comes from strictly-above counts
    * over the per-SCORE aggregate via the chunked-prefix discipline
    * (never a row-axis ntile sort); bucket = B·above DIV N is pure
    * integer arithmetic, ties share a slice; cumulatives ride a
    * buckets²-bounded self-join over the B-row relation (no window).
    * Rates derive from exact integer sums, rounded once.
    *
    * Returns (decile, n, n_pos, pos_rate_r, cum_n, cum_pos, capture_r,
    * lift_r), decile 1 = highest scores.
    */
  def gainsTable(
      df: DataFrame,
      scoreCol: String,
      labelCol: String,
      buckets: Int = 10,
      chunkWidth: Double = 0.05): DataFrame = {
    require(buckets >= 2 && chunkWidth > 0,
      s"buckets ($buckets) / chunkWidth ($chunkWidth) out of range")
    val rows = df
      .select(col(scoreCol).cast("double").as("__s"),
        (col(labelCol) === 1).cast("long").as("__y"))
      .where(col("__s").isNotNull && col(labelCol).isNotNull)
    val perScore = rows.groupBy(col("__s"))
      .agg(count(lit(1)).as("__c"), sum(col("__y")).as("__p"))
      .withColumn("__chunk", floor(col("__s") / chunkWidth).cast("long"))
    val wCh = Window.orderBy(col("__chunk"))
    val bases = perScore.groupBy(col("__chunk")).agg(sum(col("__c")).as("__cs"))
      .withColumn("__b", sum(col("__cs")).over(wCh) - col("__cs"))
      .select(col("__chunk"), col("__b"))
    val wLoc = Window.partitionBy(col("__chunk")).orderBy(col("__s"))
    val tot = broadcast(rows.agg(count(lit(1)).as("__n"), sum(col("__y")).as("__np")))
    val perBucket = perScore
      .join(broadcast(bases), Seq("__chunk"))
      .withColumn("__cumIncl", col("__b") + sum(col("__c")).over(wLoc))
      .crossJoin(tot)
      // strictly-above count = N − cum_incl(score) under ASC order
      .withColumn("decile",
        expr(s"($buckets * (__n - __cumIncl)) DIV __n") + 1)
      .groupBy(col("decile"))
      .agg(sum(col("__c")).as("n"), sum(col("__p")).as("n_pos"))
      .pin() // ≤ buckets rows; feeds base + cumulative legs
    val cums = perBucket.select(col("decile").as("__d2"),
        col("n").as("__n2"), col("n_pos").as("__p2"))
    perBucket
      .join(cums, col("__d2") <= col("decile"))
      .groupBy(col("decile"), col("n"), col("n_pos"))
      .agg(sum(col("__n2")).as("cum_n"), sum(col("__p2")).as("cum_pos"))
      .crossJoin(tot)
      .select(col("decile"), col("n"), col("n_pos"),
        Portable.pround(col("n_pos").cast("double") / col("n").cast("double"), 4)
          .as("pos_rate_r"),
        col("cum_n"), col("cum_pos"),
        Portable.pround(
          when(col("__np") > 0, col("cum_pos").cast("double") / col("__np").cast("double")),
          4).as("capture_r"),
        Portable.pround(
          when(col("__np") > 0,
            (col("cum_pos").cast("double") / col("cum_n").cast("double"))
              / (col("__np").cast("double") / col("__n").cast("double"))),
          4).as("lift_r"))
  }

  /** k-ary randomized response (Warner, JASA 1965; the generalized
    * direct-encoding mechanism of local differential privacy): each row
    * REPORTS its true category with probability p, otherwise a uniform
    * draw over the full k-category domain — the collector never sees
    * trustworthy individual values, yet the aggregate is recoverable:
    * E[f_c/n] = p·π_c + (1−p)/k, so π̂_c = (f_c/n − (1−p)/k)/p is
    * unbiased (ε = ln((p + (1−p)/k)/((1−p)/k)) per-row LDP). The
    * per-pipeline use: ship usage/category telemetry off restricted
    * corpora while releasing only the perturbed rows.
    *
    * Both coins are the engine's deterministic md5 draws (the
    * [[dpNoisyCounts]] discipline): keep-coin from a 52-bit md5 prefix
    * of (salt, id), replacement index from an independent salt modulo k
    * over the SORTED category domain — so the released table, hence the
    * estimate, replays exactly cross-engine and across reruns. (The
    * 52-bit modulo's residual bias is ≤ k·2⁻⁵² — far below the
    * mechanism's own sampling noise, and identical on both engines.)
    * The category index assignment windows the CATEGORY DOMAIN
    * (metadata-sized), never the row relation.
    *
    * Returns per category (catCol, n_true, n_reported, pi_true_r,
    * pi_est_r) — the true share only for audit; a production caller
    * releases the reported counts and the estimate alone.
    */
  def randomizedResponse(
      df: DataFrame,
      idCol: String,
      catCol: String,
      p: Double = 0.75,
      salt: String = "rr"): DataFrame = {
    require(p > 0 && p < 1, s"p ($p) must be in (0,1)")
    val rows = df.select(col(idCol).as("__id"), col(catCol).as("__c"))
      .where(col("__id").isNotNull && col("__c").isNotNull)
    val cats = rows.select(col("__c")).distinct()
      .withColumn("__idx",
        row_number().over(Window.orderBy(col("__c"))) - 1)
      .pin()
    val kTot = broadcast(cats.agg(count(lit(1)).as("__k"))
      .crossJoin(rows.agg(count(lit(1)).as("__n"))))
    val keep = graft.functions.HexSlice.u(md5(concat(lit(s"$salt:"), col("__id").cast("string"))), 1, 13).cast("double") / lit(4503599627370496.0) < lit(p)
    val pick = graft.functions.HexSlice.u(md5(concat(lit(s"${salt}pick:"), col("__id").cast("string"))), 1, 13)
    val reported = rows
      .crossJoin(kTot.select(col("__k")))
      .withColumn("__pick", pick % col("__k"))
      .join(broadcast(cats.select(col("__c").as("__rc"), col("__idx"))),
        col("__pick") === col("__idx"))
      .select(when(keep, col("__c")).otherwise(col("__rc")).as("__rep"))
      .groupBy(col("__rep").as("__c"))
      .agg(count(lit(1)).as("n_reported"))
    val truth = rows.groupBy(col("__c")).agg(count(lit(1)).as("n_true"))
    cats.select(col("__c"))
      .join(truth, Seq("__c"), "left")
      .join(reported, Seq("__c"), "left")
      .na.fill(0L, Seq("n_true", "n_reported"))
      .crossJoin(kTot)
      .select(col("__c").as(catCol), col("n_true"), col("n_reported"),
        Portable.pround(col("n_true").cast("double") / col("__n").cast("double"), 6)
          .as("pi_true_r"),
        Portable.pround(
          (col("n_reported").cast("double") / col("__n").cast("double")
            - lit(1.0 - p) / col("__k").cast("double")) / lit(p), 6).as("pi_est_r"))
  }

  def dpNoisyCounts(
      df: DataFrame,
      groupCol: String,
      eps: Double = 1.0,
      salt: String = "dp"): DataFrame = {
    require(eps > 0, s"eps ($eps) must be positive")
    // 52-bit md5 prefix → u ∈ [2^-52, 1): never exactly 0 or 1, so the
    // ln argument stays positive
    val u = greatest(
      graft.functions.HexSlice.u(md5(concat(lit(s"$salt:"), col(groupCol).cast("string"))), 1, 13)
        .cast("double") / lit(4503599627370496.0),
      lit(math.pow(2.0, -52)))
    val centered = u - lit(0.5)
    val noise = -lit(1.0 / eps) * signum(centered) *
      log(lit(1.0) - lit(2.0) * abs(centered))
    df
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"))
      .withColumn("noise_r", Portable.pround(noise, 4))
      .withColumn("released_r", Portable.pround(
        greatest(col("n") + col("noise_r"), lit(0.0)), 4))
  }

  /** Benford first-digit audit (Benford 1938; the fraud/data-forensics
    * standard): the observed first-significant-digit distribution of a
    * positive numeric column against Benford's law p(d) = log₁₀(1+1/d),
    * with the χ² statistic riding every row — fabricated or synthetic
    * values rarely match the law real-world magnitudes follow.
    *
    * The first digit is extracted via INTEGER string math (value → cents
    * long → first char), never log10 — log10(1000) landing at 2.9999…
    * on one engine and 3.0 on the other would misbin every power of 10.
    * χ² is computed from the ROUNDED per-digit shares. One partial-agg
    * pass; 9-row result.
    *
    * GRANULARITY CONTRACT: the column is read at two-decimal (currency)
    * granularity — values are half-up rounded to cents before the digit
    * is taken, and |value| < 0.005 rows are excluded. A sub-cent value
    * near a magnitude boundary is therefore binned by its ROUNDED cents
    * (0.0999 → 10 cents → digit 1, not the unrounded 9): exact for the
    * ≤2-dp monetary columns this audits, deliberate for anything finer —
    * rescale finer columns (×10^k) before calling rather than trusting a
    * cross-engine double→string of the raw value.
    *
    * Returns (digit, n, share_r, expected_r, chi2_r) — chi2 constant
    * across the 9 rows.
    */
  def benford(df: DataFrame, c: String): DataFrame = {
    val cents = Portable.pround(abs(col(c)) * 100, 0).cast("long")
    val digits = df
      .where(col(c).isNotNull && abs(col(c)) >= 0.01)
      .select(substring(cents.cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy(col("digit"))
      .agg(count(lit(1)).as("n"))
      .pin()
    val tot = broadcast(digits.agg(sum(col("n")).as("t")))
    val expected = (1 to 9).map(d => math.log10(1.0 + 1.0 / d))
    val expArr = array(expected.map(lit): _*)
    val terms = digits
      .crossJoin(tot)
      .withColumn("share_r", Portable.pround(col("n").cast("double") / col("t"), 6))
      .withColumn("expected_r", Portable.pround(element_at(expArr, col("digit")), 6))
      .withColumn("__term", Portable.pround(
        (col("share_r") - col("expected_r")) * (col("share_r") - col("expected_r"))
          / col("expected_r") * col("t"), 6))
      .pin()
    val chi2 = broadcast(terms.agg(Portable.pround(sum(col("__term")), 4).as("chi2_r")))
    terms.crossJoin(chi2)
      .select(col("digit"), col("n"), col("share_r"), col("expected_r"), col("chi2_r"))
  }

  /** Functional-dependency check lhs → rhs (the data-profiling primitive,
    * Abedjan et al., "Profiling relational data", VLDBJ 2015): holds iff
    * every lhs value maps to exactly ONE rhs value. One partial-agg
    * groupBy over the (lhs, rhs) projection — the violating-group count
    * says HOW broken a near-FD is, not just that it is.
    *
    * Returns ONE row (fd, n_groups, n_violating, holds).
    */
  def fdCheck(df: DataFrame, lhs: String, rhs: String): DataFrame =
    df
      .groupBy(col(lhs))
      .agg(countDistinct(col(rhs)).as("__d"))
      .agg(
        count(lit(1)).as("n_groups"),
        sum((col("__d") > 1).cast("long")).as("n_violating"))
      .select(lit(s"$lhs -> $rhs").as("fd"), col("n_groups"), col("n_violating"),
        (col("n_violating") === 0).cast("int").as("holds"))

  /** Unique-column-combination check (key discovery — the other half of
    * [[fdCheck]]'s profiling pair, Abedjan et al. VLDBJ 2015): a column
    * set is a candidate KEY iff no value combination repeats. One
    * partial-agg groupBy over the projection; the duplicate-group count
    * and max multiplicity say HOW non-unique a near-key is (max_mult = 2
    * on 1 group: one dirty pair; max_mult = 10⁴: not a key at all).
    *
    * Returns ONE row (ucc, n_rows, n_groups, n_dup_groups, max_mult,
    * is_unique).
    */
  def uccCheck(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need candidate key columns")
    df.groupBy(cols.map(col): _*)
      .agg(count(lit(1)).as("__c"))
      .agg(
        sum(col("__c")).as("n_rows"),
        count(lit(1)).as("n_groups"),
        sum((col("__c") > 1).cast("long")).as("n_dup_groups"),
        max(col("__c")).as("max_mult"))
      .select(lit(cols.mkString(",")).as("ucc"),
        col("n_rows").cast("long").as("n_rows"), col("n_groups"), col("n_dup_groups"),
        col("max_mult"), (col("n_dup_groups") === 0).cast("int").as("is_unique"))
  }

  /** Inclusion-dependency check a.aCol ⊆ b.bCol (foreign-key discovery):
    * counts the DISTINCT orphan values on the left not present on the
    * right — a distinct-project on each side plus one anti join, never
    * row-sized. Returns ONE row (ind, n_distinct, n_orphans, holds).
    */
  def inclusionCheck(a: DataFrame, aCol: String, b: DataFrame, bCol: String): DataFrame = {
    val av = a.select(col(aCol).as("__v")).where(col("__v").isNotNull).distinct()
      .pin()
    val bv = b.select(col(bCol).as("__v")).where(col("__v").isNotNull).distinct()
    val orphans = av.join(bv, Seq("__v"), "left_anti")
      .agg(count(lit(1)).as("n_orphans"))
    av.agg(count(lit(1)).as("n_distinct"))
      .crossJoin(broadcast(orphans))
      .select(lit(s"$aCol <= $bCol").as("ind"), col("n_distinct"), col("n_orphans"),
        (col("n_orphans") === 0).cast("int").as("holds"))
  }

  /** Population Stability Index (the scorecard-monitoring standard; see
    * e.g. Yurdakul 2018 for its statistical treatment): PSI =
    * Σ_bins (p_cur − p_ref)·ln(p_cur/p_ref), with bins fixed as the
    * REFERENCE side's quantile boundaries — the deployment drift dial
    * ("did the feature distribution my filter was tuned on move?"),
    * conventionally read as <0.1 stable / 0.1–0.25 shifting / >0.25
    * drifted. Complements KS (max pointwise CDF gap) and JSD (token
    * distributions): PSI localizes WHICH quantile band the drift lives
    * in, via the per-bin terms this returns alongside the total.
    *
    * Shares are Laplace-smoothed ((n+1)/(N+bins)) so an empty bin stays
    * finite AND the probabilities remain exact rationals — with the 6-dp
    * rounded per-bin terms summed into the total, the whole statistic
    * replays cross-engine. One percentile pass on the reference, one
    * binned partial-agg count per side (the boundary array broadcast),
    * bins-sized everything after.
    *
    * Returns (bin, n_ref, n_cur, term_r, psi_r) — psi_r constant across
    * the bins rows, computed FROM the rounded terms.
    */
  def psi(ref: DataFrame, cur: DataFrame, c: String, bins: Int = 10): DataFrame = {
    require(bins >= 2, s"bins ($bins) must be >= 2")
    val fracs = (1 until bins).map(i => i.toDouble / bins)
    val bounds = ref.agg(expr(s"percentile($c, array(${fracs.mkString(", ")}))").as("__bs"))
    def binned(df: DataFrame) = df
      .select(col(c).cast("double").as("__v"))
      .crossJoin(broadcast(bounds))
      .withColumn("bin",
        size(filter(transform(col("__bs"), b => Portable.pround(b, 6)), b => b <= col("__v"))))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"))
      .pin()
    val spark = ref.sparkSession
    import spark.implicits._
    val joined = (0 until bins).toDF("bin")
      .join(binned(ref).withColumnRenamed("n", "n_ref"), Seq("bin"), "left_outer")
      .join(binned(cur).withColumnRenamed("n", "n_cur"), Seq("bin"), "left_outer")
      .na.fill(0L, Seq("n_ref", "n_cur"))
      .pin()
    val tot = broadcast(joined.agg(sum(col("n_ref")).as("tr"), sum(col("n_cur")).as("tc")))
    val terms = joined
      .crossJoin(tot)
      .withColumn("p_ref", (col("n_ref") + 1).cast("double") / (col("tr") + bins))
      .withColumn("p_cur", (col("n_cur") + 1).cast("double") / (col("tc") + bins))
      .withColumn("term_r", Portable.pround(
        (col("p_cur") - col("p_ref")) * log(col("p_cur") / col("p_ref")), 6))
      .select(col("bin"), col("n_ref"), col("n_cur"), col("term_r"))
      .pin()
    val psiTot = broadcast(terms.agg(Portable.pround(sum(col("term_r")), 6).as("psi_r")))
    terms.crossJoin(psiTot)
  }

  /** Spearman rank correlation ρ between two numeric columns: Pearson on
    * AVERAGE ranks — the monotone-association measure Pearson misses
    * (ρ = 1 for ANY monotone relation, linear or not) and the robust one
    * (a single outlier moves its rank by at most 1). corrMatrix's
    * nonlinear sibling.
    *
    * Scale + determinism: ranks come from per-DISTINCT-VALUE counts with
    * cumulative sums in the two-pass chunked prefix form chunked on the
    * value range (the [[ksTest]] discipline — no full-table sort, no
    * single-partition window over rows; in-chunk windows are bounded by
    * the chunk's distinct values). Average ranks are HALF-INTEGERS, so
    * every sum of ranks/squares/products is exact in doubles below 2^53
    * — the final ρ is deterministic under any partial-agg order without
    * rounding tricks. Three scans (rows + one rank build per column),
    * value-distinct-sized everything else.
    *
    * NULL discipline: rows where EITHER column is NULL are dropped ONCE
    * up front, and both rank relations are built from that paired
    * projection — ranking a column over all rows and then inner-joining
    * would rank against values the pairing discards (and a NULL value's
    * NULL chunk would ride the chunk prefix sum differently per engine).
    *
    * Returns ONE row (n, rho_r).
    */
  def spearman(
      df: DataFrame,
      xCol: String,
      yCol: String,
      chunkWidth: Double = 1000.0): DataFrame = {
    require(chunkWidth > 0, s"chunkWidth ($chunkWidth) must be positive")
    // Measured trade (r14, sf0.1 lineitem, quiet load): the r13 null-
    // discipline reshape costs ~12% (1.62 → 1.82 s) because each of the
    // three scans now reads BOTH columns through the null filter where the
    // r12 form's rank builds each read one — the price of ranking only
    // paired rows, which correctness requires. localCheckpoint'ing the
    // paired projection to de-duplicate the scans measured SLOWER (1.97 s
    // min-of-5): materializing ~6M two-double rows costs more than two
    // extra cheap columnar scans. Left lazy deliberately.
    val paired = df
      .select(col(xCol).cast("double").as(s"${xCol}__v"),
        col(yCol).cast("double").as(s"${yCol}__v"))
      .where(col(s"${xCol}__v").isNotNull && col(s"${yCol}__v").isNotNull)
    def ranks(c: String): DataFrame = {
      val perValue = paired
        .groupBy(col(s"${c}__v").as("__v"))
        .agg(count(lit(1)).as("__c"))
        .withColumn("__chunk", floor(col("__v") / chunkWidth).cast("long"))
      val wChunks = Window.orderBy(col("__chunk"))
      val bases = perValue
        .groupBy(col("__chunk")).agg(sum(col("__c")).as("__s"))
        .withColumn("__b", sum(col("__s")).over(wChunks) - col("__s"))
        .select(col("__chunk"), col("__b"))
      val wLocal = Window.partitionBy(col("__chunk")).orderBy(col("__v"))
      perValue
        .join(broadcast(bases), Seq("__chunk"))
        .withColumn("__cum", col("__b") + sum(col("__c")).over(wLocal))
        .select(col("__v").as(s"${c}__v"),
          ((col("__cum") - col("__c")).cast("double")
            + (col("__c") + 1).cast("double") / 2.0).as(s"${c}__r"))
    }
    paired
      .join(ranks(xCol), Seq(s"${xCol}__v"))
      .join(ranks(yCol), Seq(s"${yCol}__v"))
      .agg(count(lit(1)).as("n"),
        sum(col(s"${xCol}__r")).as("sa"), sum(col(s"${yCol}__r")).as("sb"),
        sum(col(s"${xCol}__r") * col(s"${xCol}__r")).as("saa"),
        sum(col(s"${yCol}__r") * col(s"${yCol}__r")).as("sbb"),
        sum(col(s"${xCol}__r") * col(s"${yCol}__r")).as("sab"))
      .select(col("n"), Portable.pround(
        when(
          (col("n") * col("saa") - col("sa") * col("sa"))
            * (col("n") * col("sbb") - col("sb") * col("sb")) > 0.0,
          (col("n") * col("sab") - col("sa") * col("sb"))
            / sqrt((col("n") * col("saa") - col("sa") * col("sa"))
              * (col("n") * col("sbb") - col("sb") * col("sb")))),
        6).as("rho_r"))
    // ^ a CONSTANT column has zero rank variance: ρ is undefined and the
    //   ANSI-mode division would throw — report NULL instead
  }

  /** Quantile–quantile drift table between two snapshots: the exact
    * deciles of `c` on each side, aligned, with per-decile deltas —
    * [[psi]]'s complement in VALUE space (PSI says which quantile band's
    * POPULATION moved; this says how far the band's BOUNDARY moved, in
    * the column's own units — "p90 document length grew 400 chars" is
    * actionable where a PSI term is not). Two percentile passes, a
    * bins-sized zip, nothing else.
    *
    * Returns (decile, ref_q_r, cur_q_r, delta_r) — delta from the
    * ROUNDED quantiles.
    */
  def qqDrift(ref: DataFrame, cur: DataFrame, c: String, bins: Int = 10): DataFrame = {
    require(bins >= 2, s"bins ($bins) must be >= 2")
    val fracs = (1 until bins).map(i => i.toDouble / bins)
    val arr = s"array(${fracs.mkString(", ")})"
    val r = ref.agg(expr(s"percentile($c, $arr)").as("qr"))
    val u = cur.agg(expr(s"percentile($c, $arr)").as("qc"))
    r.crossJoin(u)
      .select(posexplode(arrays_zip(col("qr"), col("qc"))).as(Seq("pos", "z")))
      .select((col("pos") + 1).cast("int").as("decile"),
        Portable.pround(col("z.qr"), 4).as("ref_q_r"),
        Portable.pround(col("z.qc"), 4).as("cur_q_r"))
      .withColumn("delta_r", Portable.pround(col("cur_q_r") - col("ref_q_r"), 4))
  }

  /** Welch's unequal-variance t-test between every pair of groups (Welch,
    * Biometrika 1947) over an INTEGER-valued measure column: t statistic
    * and Welch–Satterthwaite degrees of freedom — the A/B significance
    * check that doesn't assume equal variances (the plain pooled t does,
    * and group sizes here are wildly unequal).
    *
    * Determinism discipline: mean and variance are derived from EXACT
    * decimal sums (Σx, Σx² — both exact in any summation order), then the
    * scalar double arithmetic is identical cross-engine; nothing depends
    * on float partial-agg order. One grouped pass (group-sized result) +
    * a groups²-sized self-join — the corpus is scanned once.
    *
    * Returns (g1, g2, n1, n2, diff_r, t_r, df_r).
    */
  def welchTTest(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val x = col(valueCol).cast("decimal(19,0)")
    val g = df
      .groupBy(col(groupCol).as("g"))
      .agg(count(lit(1)).as("n"),
        sum(x).cast("decimal(38,0)").as("s1"),
        sum(x * x).as("s2"))
      // singleton groups have no sample variance: (n-1)=0 would make v
      // Inf/NaN and poison every pair the group joins into, with
      // engine-dependent NaN semantics — drop them (burstiness's HAVING
      // discipline; the oracle carries the same HAVING count(*) >= 2)
      .where(col("n") >= 2)
      .select(col("g"), col("n"),
        (col("s1").cast("double") / col("n")).as("m"),
        ((col("s2").cast("double")
          - col("s1").cast("double") * col("s1").cast("double") / col("n"))
          / (col("n") - 1)).as("v"))
      .pin()
    val a = g.select(col("g").as("g1"), col("n").as("n1"), col("m").as("m1"), col("v").as("v1"))
    val b = g.select(col("g").as("g2"), col("n").as("n2"), col("m").as("m2"), col("v").as("v2"))
    val se1 = col("v1") / col("n1")
    val se2 = col("v2") / col("n2")
    a.join(broadcast(b), col("g1") < col("g2"))
      // two CONSTANT groups (both sample variances 0) have no test
      // statistic: t's denominator √(se₁+se₂) is 0 and under ANSI mode
      // the division THROWS instead of yielding Inf — drop the pair (the
      // oracle carries the same predicate); any within-group variance on
      // either side keeps the pair
      .where(se1 + se2 > 0.0)
      .select(col("g1"), col("g2"), col("n1"), col("n2"),
        Portable.pround(col("m1") - col("m2"), 4).as("diff_r"),
        Portable.pround((col("m1") - col("m2")) / sqrt(se1 + se2), 4).as("t_r"),
        Portable.pround((se1 + se2) * (se1 + se2)
          / (se1 * se1 / (col("n1") - 1) + se2 * se2 / (col("n2") - 1)), 2).as("df_r"))
  }

  /** Per-group unigram token entropy H = −Σ p·ln p (nats) and its
    * perplexity e^H — the corpus-level lexical-diversity dial (a source
    * of boilerplate repeats few types: low entropy; diverse prose runs
    * high), reported beside type count and token mass so the type-token
    * ratio rides along. The group-level complement of the per-doc char
    * entropy gate: THAT flags gibberish documents, THIS profiles whole
    * sources for mixture design.
    *
    * Probabilities are rationals from exact counts; perplexity is
    * computed from the ROUNDED entropy so both engines exponentiate the
    * identical double. Work is vocab-sized after one token count.
    *
    * Returns (groupCol, n_tokens, n_types, h_r, ppl_r).
    */
  def tokenEntropy(tokens: DataFrame, groupCol: String, wordCol: String = "word"): DataFrame = {
    val counts = tokens
      .groupBy(col(groupCol).as("g"), col(wordCol).as("w"))
      .agg(count(lit(1)).as("c"))
      .pin()
    val totals = counts.groupBy(col("g"))
      .agg(sum(col("c")).as("t"), count(lit(1)).as("n_types"))
    counts
      .join(broadcast(totals), Seq("g"))
      .withColumn("p", col("c").cast("double") / col("t"))
      .groupBy(col("g").as(groupCol))
      .agg(first(col("t")).as("n_tokens"),
        first(col("n_types")).as("n_types"),
        Portable.pround(-sum(col("p") * log(col("p"))), 6).as("h_r"))
      .withColumn("ppl_r", Portable.pround(exp(col("h_r")), 4))
  }

  /** Jensen–Shannon divergence between every pair of per-group token
    * distributions (Lin, IEEE IT 1991): JSD(p,q) = ½KL(p‖m) + ½KL(q‖m),
    * m = ½(p+q) — the SYMMETRIC, always-finite drift measure between
    * source vocabularies (KL itself blows up on any word one source
    * lacks; JSD caps at ln 2). The domain-mixing dial: "how different is
    * source A's language from B's" as one number per pair.
    *
    * Disjoint-support mass needs no outer join: a word only in p
    * contributes ½p·ln2, so JSD = Σ_shared[½p·ln(2p/(p+q)) +
    * ½q·ln(2q/(p+q))] + ½ln2·(1−Σ_shared p) + ½ln2·(1−Σ_shared q) — one
    * INNER self-join of the (group, word, count) relation on word +
    * one pair-grouped partial-agg sum. Probabilities are rationals from
    * exact counts; work is vocab-sized, never corpus-sized.
    *
    * Returns (g1, g2, n_shared, jsd_r) — jsd in nats, ∈ [0, ln 2].
    */
  def jsDivergence(tokens: DataFrame, groupCol: String, wordCol: String = "word"): DataFrame = {
    val counts = tokens
      .groupBy(col(groupCol).as("g"), col(wordCol).as("w"))
      .agg(count(lit(1)).as("c"))
      // vocab×groups-sized; totals AND the probability join consume it —
      // materialize so the corpus tokenization scan runs once
      .pin()
    val totals = counts.groupBy(col("g")).agg(sum(col("c")).as("t"))
    val wc = counts
      .join(broadcast(totals), Seq("g"))
      .select(col("g"), col("w"), (col("c").cast("double") / col("t")).as("p"))
      .pin()
    val a = wc.select(col("g").as("g1"), col("w"), col("p"))
    val b = wc.select(col("g").as("g2"), col("w"), col("p").as("q"))
    val ln2 = math.log(2.0)
    val shared = a.join(b, Seq("w"))
      .where(col("g1") < col("g2"))
      .groupBy(col("g1"), col("g2"))
      .agg(count(lit(1)).as("n_shared"),
        sum(lit(0.5) * col("p") * log(lit(2.0) * col("p") / (col("p") + col("q")))
          + lit(0.5) * col("q") * log(lit(2.0) * col("q") / (col("p") + col("q")))).as("sh"),
        sum(col("p")).as("sp"),
        sum(col("q")).as("sq"))
    // seed every group pair from the (tiny) totals relation: a pair with
    // NO shared word is maximal drift (jsd = ln 2), not a missing row
    val pairs = totals.select(col("g").as("g1"))
      .join(totals.select(col("g").as("g2")), col("g1") < col("g2"))
    pairs
      .join(shared, Seq("g1", "g2"), "left_outer")
      .select(col("g1"), col("g2"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        Portable.pround(
          coalesce(col("sh"), lit(0.0))
            + lit(0.5 * ln2) * (lit(1.0) - coalesce(col("sp"), lit(0.0)))
            + lit(0.5 * ln2) * (lit(1.0) - coalesce(col("sq"), lit(0.0))), 6).as("jsd_r"))
  }

  /** Cohen's kappa (Cohen 1960): chance-corrected agreement between two
    * binary raters, from the 2×2 confusion counts — one map-side
    * conditional-sum aggregate, single row, nothing key-sized. po/pe are
    * rounded before the kappa division so replays divide identical
    * rationals.
    *
    * Returns (n, n11, n10, n01, n00, po_r, pe_r, kappa_r).
    */
  def cohenKappa(df: DataFrame, r1Col: String, r2Col: String): DataFrame =
    df
      .agg(count(lit(1)).as("n"),
        sum((col(r1Col) === 1 && col(r2Col) === 1).cast("long")).as("n11"),
        sum((col(r1Col) === 1 && col(r2Col) === 0).cast("long")).as("n10"),
        sum((col(r1Col) === 0 && col(r2Col) === 1).cast("long")).as("n01"),
        sum((col(r1Col) === 0 && col(r2Col) === 0).cast("long")).as("n00"))
      .withColumn("po_r", Portable.pround(
        (col("n11") + col("n00")).cast("double") / col("n"), 6))
      .withColumn("pe_r", Portable.pround(
        ((col("n11") + col("n10")) * (col("n11") + col("n01"))
          + (col("n01") + col("n00")) * (col("n10") + col("n00"))).cast("double")
          / (col("n").cast("double") * col("n")), 6))
      .withColumn("kappa_r", Portable.pround(
        (col("po_r") - col("pe_r")) / (lit(1.0) - col("pe_r")), 6))
      .select("n", "n11", "n10", "n01", "n00", "po_r", "pe_r", "kappa_r")

  /** Sketch-based equi-join SIZE estimate via the Count-Min inner product
    * (Cormode & Muthukrishnan, "An Improved Data Stream Summary: The
    * Count-Min Sketch", J. Algorithms 2005 §4.2 — the AGMS lineage): for
    * join size J = Σ_k n_left(k)·n_right(k), each CMS row's bucket-wise
    * dot product Σ_w m_l[d][w]·m_r[d][w] is an OVERCOUNT-ONLY estimate
    * (colliding keys only add positive mass), so min over the depth rows
    * upper-bounds J with the usual e/W·N_l·N_r expected slack. This is
    * the pre-shuffle cardinality check a 100 TB planner runs: two
    * sketch passes (constant d×w state per task, merged exactly —
    * CmsSpec's 150-case fuzz) instead of the join itself.
    *
    * This AUDIT form also computes the exact J (one key-grouped join —
    * affordable at test scale) so the estimate's quality is measured,
    * not assumed; at scale, drop the truth side and keep the two sketch
    * aggregates. All arithmetic integral until the final ratio; the
    * md5-salted buckets replay exactly in the DuckDB oracle.
    *
    * Returns ONE row (n_left, n_right, true_size, est_size, over_r) with
    * over_r = est/true (4 dp) — NULL when the true join is empty.
    */
  def cmsJoinSize(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      depth: Int = 4,
      width: Int = 512): DataFrame = {
    require(depth >= 1 && width >= 2, s"depth ($depth) / width ($width) out of range")
    val a = left.select(col(keyCol).cast("string").as("k"))
    val b = right.select(col(keyCol).cast("string").as("k"))
    val ma = a.agg(expr(s"cms_counts(k, $depth, $width)").as("ma"),
      count(lit(1)).as("n_left"))
    val mb = b.agg(expr(s"cms_counts(k, $depth, $width)").as("mb"),
      count(lit(1)).as("n_right"))
    val truth = a.groupBy(col("k")).agg(count(lit(1)).as("ca"))
      .join(b.groupBy(col("k")).agg(count(lit(1)).as("cb")), Seq("k"))
      .agg(coalesce(sum(col("ca") * col("cb")), lit(0L)).as("true_size"))
    ma.crossJoin(broadcast(mb)).crossJoin(broadcast(truth))
      .select(col("n_left"), col("n_right"), col("true_size"),
        expr(
          s"""array_min(transform(sequence(0, ${depth - 1}), d ->
              aggregate(zip_with(slice(ma, d * $width + 1, $width),
                                 slice(mb, d * $width + 1, $width),
                                 (x, y) -> x * y),
                        0L, (acc, v) -> acc + v)))""").as("est_size"))
      .withColumn("over_r", Portable.pround(
        when(col("true_size") > 0,
          col("est_size").cast("double") / col("true_size")), 4))
  }

  /** Kruskal–Wallis rank ANOVA (Kruskal & Wallis, JASA 1952): does at
    * least one of k groups stochastically dominate, measured on RANKS —
    * the distribution-free complement to the parametric Welch/seasonality
    * F-family, and the right test when the metric is heavy-tailed
    * (latency, revenue) where means mislead. Tie-corrected:
    *
    *   H  = 12/(N(N+1)) · Σ_g R_g²/n_g − 3(N+1)
    *   H' = H / (1 − Σ_v (t_v³−t_v)/(N³−N))
    *
    * Scale shape = [[spearman]]'s chunked-prefix ranking: pooled average
    * ranks come from the per-VALUE aggregate (value-domain-sized, never
    * row-sized) via the two-pass chunk discipline — a bounded global
    * window over per-chunk totals plus a per-chunk local window — so no
    * row-count relation is ever globally sorted. Average ranks are
    * HALF-INTEGERS, exact in doubles, and every sufficient sum (R_g,
    * n_g, tie terms) is an exact integer or half-integer « 2^53; the
    * final H is one fixed-order scalar expression over them, identical
    * cross-engine before the 6-dp rounding.
    *
    * Returns one row: (n, k_groups, h_r, h_tie_r).
    */
  def kruskalWallis(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      chunkWidth: Double = 10.0): DataFrame = {
    require(chunkWidth > 0, s"chunkWidth ($chunkWidth) must be positive")
    val rows = df
      .select(col(groupCol).as("__g"), col(valueCol).cast("double").as("__v"))
      .where(col("__g").isNotNull && col("__v").isNotNull)
    // per-(group,value) then per-value counts: all rank math runs on the
    // value-domain-sized relation
    val gv = rows.groupBy(col("__g"), col("__v")).agg(count(lit(1)).as("__cgv"))
    val perValue = gv.groupBy(col("__v")).agg(sum(col("__cgv")).as("__c"))
      .withColumn("__chunk", floor(col("__v") / chunkWidth).cast("long"))
    val wChunks = Window.orderBy(col("__chunk"))
    val bases = perValue
      .groupBy(col("__chunk")).agg(sum(col("__c")).as("__s"))
      .withColumn("__b", sum(col("__s")).over(wChunks) - col("__s"))
      .select(col("__chunk"), col("__b"))
    val wLocal = Window.partitionBy(col("__chunk")).orderBy(col("__v"))
    val ranked = perValue
      .join(broadcast(bases), Seq("__chunk"))
      .withColumn("__cum", col("__b") + sum(col("__c")).over(wLocal))
      .select(col("__v"),
        ((col("__cum") - col("__c")).cast("double")
          + (col("__c") + 1).cast("double") / 2.0).as("__rank"),
        col("__c"))
    val perGroup = gv
      .join(ranked.select(col("__v"), col("__rank")), Seq("__v"))
      .groupBy(col("__g"))
      .agg(sum(col("__cgv")).as("__ng"),
        sum(col("__cgv").cast("double") * col("__rank")).as("__rg"))
    // per-value tie term t³−t in decimal(38,0): exact at any per-value
    // count (a long c³ overflows past c ≈ 2×10⁶)
    val ties = broadcast(ranked
      .select(col("__c").cast("decimal(38,0)").as("__cd"))
      .agg(sum(col("__cd") * col("__cd") * col("__cd") - col("__cd")).as("__t")))
    perGroup
      .agg(sum(col("__ng")).as("n"), count(lit(1)).as("k_groups"),
        sum(col("__rg") * col("__rg") / col("__ng").cast("double")).as("__sr"))
      .crossJoin(ties)
      .withColumn("h_r", Portable.pround(
        lit(12.0) / (col("n").cast("double") * (col("n") + 1).cast("double"))
          * col("__sr") - lit(3.0) * (col("n") + 1).cast("double"), 6))
      // tie-corrected H derives from the ROUNDED h_r (the derive-from-
      // rounded-pieces parity discipline); all-tied input (every value
      // equal) has correction factor 0 → H' undefined → NULL
      .select(col("n"), col("k_groups"), col("h_r"),
        Portable.pround(
          when(col("__t").cast("double") <
            col("n").cast("double") * col("n").cast("double") * col("n").cast("double")
              - col("n").cast("double"),
            col("h_r") / (lit(1.0) - col("__t").cast("double")
              / (col("n").cast("double") * col("n").cast("double") * col("n").cast("double")
                - col("n").cast("double")))),
          6).as("h_tie_r"))
  }

  /** Mann–Kendall trend test (Mann 1945; Kendall 1975) per group: is a
    * per-period series monotonically trending, judged on pairwise SIGNS
    * only — the distribution-free workhorse for drift monitoring where a
    * slope fit is junk (outliers, level shifts):
    *
    *   S      = Σ_{i<j} sign(x_j − x_i)
    *   var(S) = [n(n−1)(2n+5) − Σ_ties t(t−1)(2t+5)] / 18
    *   z      = (S∓1)/√var(S)   (continuity-corrected, 0 when S=0)
    *
    * Input contract: one row per (group, period) — the caller feeds the
    * per-period AGGREGATE (a metadata-sized series: months, days,
    * hours), never raw rows, so the within-group pair expansion is
    * bounded by the calendar, not the corpus (m periods → m(m−1)/2
    * pairs, e.g. 80 months → 3 160 pairs/group). S and both variance
    * terms are exact integers; z is one fixed-order scalar expression —
    * bit-identical cross-engine before the 6-dp rounding.
    *
    * Returns (group, n, s, z_r) with group renamed to the input column;
    * groups with fewer than two periods have no pair and are dropped,
    * all-tied groups read z_r = NULL (zero variance).
    */
  def mannKendall(
      df: DataFrame,
      groupCol: String,
      tCol: String,
      valueCol: String): DataFrame = {
    val s0 = df
      .select(col(groupCol).as("__g"), col(tCol).cast("long").as("__t"),
        col(valueCol).cast("double").as("__x"))
      .where(col("__g").isNotNull && col("__t").isNotNull && col("__x").isNotNull)
    val sSum = s0.as("a")
      .join(s0.as("b"),
        col("a.__g") === col("b.__g") && col("a.__t") < col("b.__t"))
      .groupBy(col("a.__g").as("__g"))
      .agg(sum(signum(col("b.__x") - col("a.__x")).cast("long")).as("s"))
    val perGroup = s0.groupBy(col("__g")).agg(count(lit(1)).as("n"))
    val tieTerm = s0.groupBy(col("__g"), col("__x")).agg(count(lit(1)).as("__c"))
      .groupBy(col("__g"))
      .agg(sum(col("__c") * (col("__c") - 1) * (lit(2) * col("__c") + 5)).as("__tt"))
    perGroup
      .join(sSum, Seq("__g"))
      .join(tieTerm, Seq("__g"))
      .withColumn("__var",
        (col("n").cast("double") * (col("n") - 1).cast("double")
          * (lit(2) * col("n") + 5).cast("double") - col("__tt").cast("double")) / 18.0)
      .select(col("__g").as(groupCol), col("n"), col("s"),
        Portable.pround(
          when(col("__var") > 0.0,
            when(col("s") > 0, (col("s") - 1).cast("double") / sqrt(col("__var")))
              .when(col("s") < 0, (col("s") + 1).cast("double") / sqrt(col("__var")))
              .otherwise(lit(0.0))),
          6).as("z_r"))
  }

  /** Theil–Sen robust slope (Theil 1950; Sen, JASA 1968) per group: the
    * MEDIAN of all pairwise slopes (x_j−x_i)/(t_j−t_i) — up to ~29%
    * contamination leaves it standing where OLS ([[groupOls]]) is
    * dragged by a single outlier month. Same bounded-pair input
    * contract as [[mannKendall]]: one row per (group, period), pairs
    * bounded by the calendar. The median is the standard midpoint rule
    * (middle element, or the mean of the two middle elements for an
    * even pair count) selected by a PARTITIONED rank — equal slope
    * values make the tie order irrelevant to the selected value, and
    * the two-element mean is a single IEEE add+halve on both engines.
    *
    * Returns (group, n, n_pairs, slope_r); groups with fewer than two
    * periods have no pair and are dropped.
    */
  def theilSen(
      df: DataFrame,
      groupCol: String,
      tCol: String,
      valueCol: String): DataFrame = {
    val s0 = df
      .select(col(groupCol).as("__g"), col(tCol).cast("long").as("__t"),
        col(valueCol).cast("double").as("__x"))
      .where(col("__g").isNotNull && col("__t").isNotNull && col("__x").isNotNull)
    val pairs = s0.as("a")
      .join(s0.as("b"),
        col("a.__g") === col("b.__g") && col("a.__t") < col("b.__t"))
      .select(col("a.__g").as("__g"),
        ((col("b.__x") - col("a.__x"))
          / (col("b.__t") - col("a.__t")).cast("double")).as("__sl"))
    val w = Window.partitionBy(col("__g")).orderBy(col("__sl"))
    val wg = Window.partitionBy(col("__g"))
    val perGroup = s0.groupBy(col("__g")).agg(count(lit(1)).as("n"))
    pairs
      .withColumn("__rn", row_number().over(w))
      .withColumn("__m", count(lit(1)).over(wg))
      .where(col("__rn") === expr("(__m + 1) DIV 2") || col("__rn") === expr("__m DIV 2 + 1"))
      .groupBy(col("__g"))
      .agg(max(col("__m")).as("n_pairs"), avg(col("__sl")).as("__med"))
      .join(perGroup, Seq("__g"))
      .select(col("__g").as(groupCol), col("n"), col("n_pairs"),
        Portable.pround(col("__med"), 6).as("slope_r"))
  }

  /** Wilcoxon signed-rank test (Wilcoxon, Biometrics Bulletin 1945) over an
    * INTEGER paired-difference column: did the paired measure shift, judged
    * without any normality assumption — ranks of |d| replace the magnitudes,
    * so one outlier customer moves the statistic by at most its rank. The
    * nonparametric sibling of the paired t-test, as [[kruskalWallis]] is to
    * ANOVA; zeros are dropped (reported as `n_zero`), ties get AVERAGE
    * ranks with the standard variance correction Σ(t³−t)/48.
    *
    * Scale + determinism = the [[spearman]] chunked-prefix discipline: ranks
    * come from per-DISTINCT-|d| counts cumulated in two passes (chunk bases
    * via a window over the CHUNK aggregate — metadata-sized — then bounded
    * in-chunk windows); no full-table sort. The DOUBLED average rank of a
    * tie block, 2·cum − c + 1, is an exact integer, so W⁺ and the tie term
    * ride exact decimal sums and the z statistic is one fixed-order scalar
    * expression — deterministic under any partial-agg order.
    *
    * Returns ONE row (n, n_zero, w_plus, z_r): n = nonzero pairs, w_plus =
    * sum of positive-difference ranks (exact half-integer), z the normal
    * approximation (NULL when the variance is 0 — e.g. n = 0).
    */
  def wilcoxonSignedRank(
      df: DataFrame,
      dCol: String,
      chunkWidth: Double = 1e6): DataFrame = {
    require(chunkWidth > 0, s"chunkWidth ($chunkWidth) must be positive")
    val d = df.select(col(dCol).cast("long").as("__d")).where(col("__d").isNotNull)
    val zeros = d.where(col("__d") === 0L).agg(count(lit(1)).as("n_zero"))
    val perValue = d.where(col("__d") =!= 0L)
      .groupBy(abs(col("__d")).as("__a"))
      .agg(count(lit(1)).as("__c"),
        sum(when(col("__d") > 0, 1L).otherwise(0L)).as("__cp"))
      .withColumn("__chunk", floor(col("__a").cast("double") / chunkWidth).cast("long"))
    val wChunks = Window.orderBy(col("__chunk"))
    val bases = perValue
      .groupBy(col("__chunk")).agg(sum(col("__c")).as("__s"))
      .withColumn("__b", sum(col("__s")).over(wChunks) - col("__s"))
      .select(col("__chunk"), col("__b"))
    val wLocal = Window.partitionBy(col("__chunk")).orderBy(col("__a"))
    val ranked = perValue
      .join(broadcast(bases), Seq("__chunk"))
      .withColumn("__cum", col("__b") + sum(col("__c")).over(wLocal))
      .withColumn("__d2", lit(2L) * col("__cum") - col("__c") + lit(1L))
    val nD = col("n").cast("double")
    val sig2 = nD * (nD + 1.0) * (lit(2.0) * nD + 1.0) / 24.0 -
      col("__tie").cast("double") / 48.0
    ranked
      .agg(
        coalesce(sum(col("__c")), lit(0L)).as("n"),
        sum(col("__cp").cast("decimal(20,0)") * col("__d2").cast("decimal(20,0)"))
          .as("__w2"),
        sum(col("__c").cast("decimal(20,0)") * col("__c").cast("decimal(20,0)")
          * col("__c").cast("decimal(20,0)") - col("__c").cast("decimal(38,0)"))
          .as("__tie"))
      .crossJoin(broadcast(zeros))
      .select(col("n"), col("n_zero"),
        (col("__w2").cast("double") / 2.0).as("w_plus"),
        Portable.pround(
          when(sig2 > 0.0,
            (col("__w2").cast("double") / 2.0 - nD * (nD + 1.0) / 4.0) / sqrt(sig2)),
          4).as("z_r"))
  }

  /** Leave-one-out target encoding with prior smoothing (the Micci-Barreca
    * SIGKDD-Explorations 2001 scheme): each row's category is replaced by
    * the mean target of the OTHER rows in that category, shrunk toward the
    * global mean — enc = (S_c − x + m·P)/(n_c − 1 + m). Excluding the row
    * itself is what blocks target leakage (a category's lone row would
    * otherwise memorize its own label); the prior keeps rare categories
    * from exploding. The high-cardinality-categorical feature prep a
    * one-hot cannot afford.
    *
    * Scale + determinism: one partial-agg pass builds the category table
    * (S_c, n_c — exact decimal sums over the INTEGER target), one scalar
    * global row broadcasts; the encode itself is a map-side broadcast
    * join + one fixed-order scalar per row. Nothing row-sized shuffles.
    *
    * Returns the input columns + `enc_r` (6 dp).
    */
  def targetEncodeLoo(
      df: DataFrame,
      catCol: String,
      valueCol: String,
      smoothing: Double = 10.0): DataFrame = {
    require(smoothing > 0, s"smoothing ($smoothing) must be positive")
    // r21 (guide §2.4/§5): the filtered rows feed THREE consumers (per-cat
    // aggregate, global prior, the LOO join) and the caller's global sort
    // SAMPLES the result a fourth time — lazily, each consumer re-ran the
    // whole scan+join derivation (profiled: the chain executed 3-4× per
    // run). One parallel materialization serves them all; fan first so the
    // checkpoint isn't pinned to a narrow bench scan (identity at scale).
    val rows = graft.functions.Spread
      .fan(df.where(col(catCol).isNotNull && col(valueCol).isNotNull))
      .pin()
    val perCat = rows
      .groupBy(col(catCol).as("__cat"))
      .agg(count(lit(1)).as("__n"),
        sum(col(valueCol).cast("long").cast("decimal(38,0)")).as("__s"))
    val glob = broadcast(rows.agg(
      count(lit(1)).as("__nt"),
      sum(col(valueCol).cast("long").cast("decimal(38,0)")).as("__st")))
    val prior = col("__st").cast("double") / col("__nt").cast("double")
    rows
      .join(broadcast(perCat), col(catCol) === col("__cat"))
      .crossJoin(glob)
      .withColumn("enc_r", Portable.pround(
        (col("__s").cast("double") - col(valueCol).cast("long").cast("double")
          + lit(smoothing) * prior)
          / (col("__n").cast("double") - 1.0 + lit(smoothing)),
        6))
      .drop("__cat", "__n", "__s", "__nt", "__st")
  }

  /** Weight-of-evidence / information-value table (the credit-scoring
    * binning readout; Siddiqi, "Credit Risk Scorecards", 2006): per
    * feature bin, WOE = ln((g_b/G)/(b_b/B)) and the IV contribution
    * (g_b/G − b_b/B)·WOE — how strongly the bin separates the binary
    * label, signed; Σ iv_contrib is the feature's screening score
    * (< 0.02 useless, > 0.5 suspicious). The supervised complement of
    * [[psi]]'s unsupervised bin drift.
    *
    * One partial-agg pass over rows (bin cells), one broadcast totals
    * row; WOE's argument is the exact integer cross-ratio g·B/(b·G)
    * computed in one fixed double order, IV derives from the ROUNDED
    * WOE per the derive-from-rounded-pieces rule. A bin with a zero
    * cell reads NULL for both (WOE is ±∞ there — the standard "merge
    * your bins" signal, surfaced rather than clamped).
    *
    * Returns (bin, n, n_good, n_bad, woe_r, iv_r) ordered by bin.
    */
  def woeIv(df: DataFrame, binCol: String, goodCol: String): DataFrame = {
    val cells = df
      .where(col(binCol).isNotNull && col(goodCol).isNotNull)
      .groupBy(col(binCol).as("bin"))
      .agg(count(lit(1)).as("n"),
        sum(when(col(goodCol).cast("boolean"), 1L).otherwise(0L)).as("n_good"))
      .withColumn("n_bad", col("n") - col("n_good"))
    val tot = broadcast(cells.agg(
      sum(col("n_good")).as("__g"), sum(col("n_bad")).as("__b")))
    val woe = log(
      (col("n_good").cast("double") * col("__b").cast("double"))
        / (col("n_bad").cast("double") * col("__g").cast("double")))
    cells
      .crossJoin(tot)
      .withColumn("woe_r", Portable.pround(
        when(col("n_good") > 0 && col("n_bad") > 0, woe), 6))
      .withColumn("iv_r", Portable.pround(
        (col("n_good").cast("double") / col("__g").cast("double")
          - col("n_bad").cast("double") / col("__b").cast("double")) * col("woe_r"),
        6))
      .select(col("bin"), col("n"), col("n_good"), col("n_bad"),
        col("woe_r"), col("iv_r"))
      .orderBy("bin")
  }

  /** Decision-stump split finder: the threshold on an INTEGER feature that
    * maximizes Gini-impurity reduction against a binary label — CART's
    * (Breiman 1984) inner loop, exposed as a relation: the first question
    * a tree would ask of this feature, and the screening dual of [[woeIv]]
    * (WOE scores the bins you chose; this finds the cut the data wants).
    *
    * Scale + determinism: candidate thresholds are the DISTINCT feature
    * values with prefix (n, good) counts in the [[spearman]] chunked-
    * prefix form — no full-table sort, no corpus-sized window; the gain
    * at each candidate is a fixed-order scalar from exact integers,
    * ROUNDED before the argmax, and the winner is selected by
    * TakeOrdered with a (gain DESC, threshold ASC) total order.
    *
    * Returns ONE row (n, threshold, n_left, n_right, gain_r): split is
    * `x <= threshold`; the max-value candidate (empty right side) is
    * excluded. gain_r is NULL-free (a pure parent reads gain 0).
    */
  def bestSplit(
      df: DataFrame,
      featureCol: String,
      labelCol: String,
      chunkWidth: Double = 1000.0): DataFrame = {
    require(chunkWidth > 0, s"chunkWidth ($chunkWidth) must be positive")
    val rows = df
      .select(col(featureCol).cast("long").as("__v"),
        when(col(labelCol).cast("boolean"), 1L).otherwise(0L).as("__y"))
      .where(col("__v").isNotNull && col(labelCol).isNotNull)
    val perValue = rows
      .groupBy(col("__v"))
      .agg(count(lit(1)).as("__c"), sum(col("__y")).as("__g"))
      .withColumn("__chunk", floor(col("__v").cast("double") / chunkWidth).cast("long"))
    val wChunks = Window.orderBy(col("__chunk"))
    val bases = perValue
      .groupBy(col("__chunk"))
      .agg(sum(col("__c")).as("__sc"), sum(col("__g")).as("__sg"))
      .withColumn("__bc", sum(col("__sc")).over(wChunks) - col("__sc"))
      .withColumn("__bg", sum(col("__sg")).over(wChunks) - col("__sg"))
      .select(col("__chunk"), col("__bc"), col("__bg"))
    val wLocal = Window.partitionBy(col("__chunk")).orderBy(col("__v"))
    val tot = broadcast(rows.agg(
      count(lit(1)).as("__n"), sum(col("__y")).as("__gt")))
    def gini(g: Column, n: Column): Column =
      lit(1.0) - (g / n) * (g / n) - ((n - g) / n) * ((n - g) / n)
    val nlD = col("__nl").cast("double")
    val glD = col("__gl").cast("double")
    val nD = col("__n").cast("double")
    val gD = col("__gt").cast("double")
    val nrD = nD - nlD
    val grD = gD - glD
    val gain = gini(gD, nD) -
      (nlD / nD * gini(glD, nlD) + nrD / nD * gini(grD, nrD))
    perValue
      .join(broadcast(bases), Seq("__chunk"))
      .withColumn("__nl", col("__bc") + sum(col("__c")).over(wLocal))
      .withColumn("__gl", col("__bg") + sum(col("__g")).over(wLocal))
      .crossJoin(tot)
      .where(col("__nl") < col("__n")) // max-value split has an empty right side
      .select(col("__n").as("n"), col("__v").as("threshold"),
        col("__nl").as("n_left"), (col("__n") - col("__nl")).as("n_right"),
        Portable.pround(gain, 6).as("gain_r"))
      .orderBy(col("gain_r").desc, col("threshold"))
      .limit(1)
  }

  /** Friedman test (Friedman, JASA 1937; Conover's tie-corrected form):
    * do k treatments differ, judged on WITHIN-BLOCK ranks — the
    * repeated-measures counterpart of [[kruskalWallis]] (blocks absorb
    * the between-subject variation that would otherwise drown the
    * treatment signal). Only COMPLETE blocks (all k treatments present)
    * enter, per the classical design; ties take average ranks, and the
    * statistic uses the rank-variance denominator A − C that stays exact
    * under ties.
    *
    * Ranks ride a window PARTITIONED by block (k-bounded partitions —
    * never a global sort); doubled average ranks 2·rank + ties − 1 are
    * exact integers, so every sum (R2_j, A4) is an exact integer and
    * χ²_F = (k−1)·Σ_j(R_j − n(k+1)/2)² / (A − C) is one fixed-order
    * scalar. Block and treatment relations are metadata-sized.
    *
    * Returns ONE row (n_blocks, k, chi2_r); NULL when every block ranks
    * every treatment identically (A = C — no variation to test).
    */
  def friedman(
      df: DataFrame,
      blockCol: String,
      treatmentCol: String,
      valueCol: String): DataFrame = {
    val cells = df
      .select(col(blockCol).as("__b"), col(treatmentCol).as("__t"),
        col(valueCol).cast("long").as("__x"))
      .where(col("__b").isNotNull && col("__t").isNotNull && col("__x").isNotNull)
    val kAll = broadcast(cells.agg(countDistinct(col("__t")).as("__k")))
    val complete = cells
      .withColumn("__bk", count(lit(1)).over(Window.partitionBy(col("__b"))))
      .crossJoin(kAll)
      .where(col("__bk") === col("__k"))
    val ranked = complete
      .withColumn("__rk",
        rank().over(Window.partitionBy(col("__b")).orderBy(col("__x"))))
      .withColumn("__ties",
        count(lit(1)).over(Window.partitionBy(col("__b"), col("__x"))))
      .withColumn("__d2", lit(2L) * col("__rk") + col("__ties") - 1L)
    val perT = ranked
      .groupBy(col("__t"))
      .agg(count(lit(1)).as("__nb"),
        sum(col("__d2").cast("decimal(38,0)")).as("__r2"),
        sum(col("__d2").cast("decimal(20,0)") * col("__d2").cast("decimal(20,0)"))
          .as("__a4"),
        max(col("__k")).as("__kk"))
    val nD = col("n_blocks").cast("double")
    val kD = col("k").cast("double")
    val aMinusC = col("__a4t").cast("double") / 4.0 -
      nD * kD * (kD + 1.0) * (kD + 1.0) / 4.0
    val dev = col("__r2").cast("double") / 2.0 -
      col("__nb").cast("double") * (col("__kk").cast("double") + 1.0) / 2.0
    perT
      .agg(max(col("__nb")).as("n_blocks"), max(col("__kk")).as("k"),
        sum(col("__a4")).as("__a4t"),
        sum(dev * dev).as("__ss"))
      .select(col("n_blocks"), col("k"),
        Portable.pround(
          when(aMinusC > 0.0, (kD - 1.0) * col("__ss") / aMinusC), 4).as("chi2_r"))
  }

  /** Per-group two-proportion z-test against the COMPLEMENT: is group g's
    * success rate different from everyone else's, pooled-variance normal
    * form — the screening pass that feeds [[bhAdjust]] (k groups = k
    * simultaneous hypotheses; without FDR control ~5% of them "discover"
    * noise). All inputs are exact integer counts; z is one fixed-order
    * scalar, ROUNDED so downstream p-values see bit-identical inputs.
    *
    * Returns (group, n, successes, z_r); z reads NULL when either side is
    * empty or the pooled variance is 0.
    */
  def twoProportionZ(df: DataFrame, groupCol: String, successCol: String): DataFrame = {
    val rows = df
      .where(col(groupCol).isNotNull && col(successCol).isNotNull)
      .select(col(groupCol).as("__g"),
        when(col(successCol).cast("boolean"), 1L).otherwise(0L).as("__y"))
    val per = rows
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("n"), sum(col("__y")).as("successes"))
    val tot = broadcast(per.agg(
      sum(col("n")).as("__nt"), sum(col("successes")).as("__gt")))
    val nD = col("n").cast("double")
    val n2D = (col("__nt") - col("n")).cast("double")
    val p1 = col("successes").cast("double") / nD
    val p2 = (col("__gt") - col("successes")).cast("double") / n2D
    val pp = col("__gt").cast("double") / col("__nt").cast("double")
    val den = pp * (lit(1.0) - pp) * (lit(1.0) / nD + lit(1.0) / n2D)
    per
      .crossJoin(tot)
      .select(col("__g").as(groupCol), col("n"), col("successes"),
        Portable.pround(
          when(col("__nt") > col("n") && den > 0.0, (p1 - p2) / sqrt(den)),
          6).as("z_r"))
  }

  /** Kendall τ-b between two INTEGER measures per group (Kendall 1938;
    * the tie-adjusted τ-b form): concordant-minus-discordant pair share —
    * [[spearman]]'s sibling with a direct probabilistic reading (τ =
    * P(concordant) − P(discordant)) and better behavior under heavy
    * ties; [[mannKendall]] is exactly this against TIME, this is the
    * cross-measure form ("do bigger months also rank richer").
    *
    * The pair join is WITHIN-group over a caller-bounded key domain (the
    * theilSen calendar-bounded contract — months², never rows²); C, D
    * and both tie counts are exact integers off one pair pass, τ one
    * fixed-order scalar. NULL on an all-tied measure.
    *
    * Returns (group, n, concordant, discordant, tau_r) ordered by group.
    */
  def kendallTau(
      df: DataFrame,
      groupCol: String,
      keyCol: String,
      xCol: String,
      yCol: String): DataFrame = {
    val rows = df
      .select(col(groupCol).as("__g"), col(keyCol).as("__k"),
        col(xCol).cast("long").as("__x"), col(yCol).cast("long").as("__y"))
      .where(col("__x").isNotNull && col("__y").isNotNull)
    val pairs = rows.as("a")
      .join(rows.as("b"),
        col("a.__g") === col("b.__g") && col("a.__k") < col("b.__k"))
      .select(col("a.__g").as("__g"),
        signum((col("a.__x") - col("b.__x")).cast("double")).as("__sx"),
        signum((col("a.__y") - col("b.__y")).cast("double")).as("__sy"))
    val perGroup = rows.groupBy(col("__g")).agg(count(lit(1)).as("n"))
    val n0 = (col("n") * (col("n") - 1) / 2).cast("double")
    val den = (n0 - col("__tx").cast("double")) * (n0 - col("__ty").cast("double"))
    pairs
      .groupBy(col("__g"))
      .agg(
        sum(when(col("__sx") * col("__sy") > 0, 1L).otherwise(0L)).as("concordant"),
        sum(when(col("__sx") * col("__sy") < 0, 1L).otherwise(0L)).as("discordant"),
        sum(when(col("__sx") === 0.0, 1L).otherwise(0L)).as("__tx"),
        sum(when(col("__sy") === 0.0, 1L).otherwise(0L)).as("__ty"))
      .join(perGroup, Seq("__g"))
      .select(col("__g").as(groupCol), col("n"), col("concordant"), col("discordant"),
        Portable.pround(
          when(den > 0.0,
            (col("concordant") - col("discordant")).cast("double") / sqrt(den)),
          6).as("tau_r"))
      .orderBy(groupCol)
  }

  /** Theil T inequality index with exact within/between decomposition
    * (Theil 1967): T = Σ (x_i/X)·ln(x_i/μ), the entropy-based
    * concentration measure whose defining advantage over Gini
    * ([[tokenGini]]'s family) is ADDITIVE DECOMPOSABILITY — T splits
    * exactly into Σ share_g·T_g (within) + Σ share_g·ln(share_g/pop_g)
    * (between), so "is spend inequality a nation story or a
    * within-nation story" is one relation.
    *
    * Two partial-agg passes (unit sums, group sums) + one group-keyed
    * join back; per-group term sums combine member-count doubles (the
    * [[Portable]] caveat) over exact integer ratios inside each ln.
    * Zero/negative units are excluded (ln undefined — mirrored).
    *
    * Returns (group, n_units, share_r, t_within_r, t_between_r) ordered
    * by group; Σ share·T_g + Σ t_between reconstructs T exactly up to
    * the published rounding.
    */
  def theilDecomposition(
      df: DataFrame,
      groupCol: String,
      valueCol: String): DataFrame = {
    val units = df
      .select(col(groupCol).as("__g"), col(valueCol).cast("long").as("__x"))
      .where(col("__x").isNotNull && col("__x") > 0 && col("__g").isNotNull)
    val per = units.groupBy(col("__g"))
      .agg(count(lit(1)).as("__ng"), sum(col("__x").cast("decimal(38,0)")).as("__xg"))
    val tot = broadcast(per.agg(
      sum(col("__ng")).as("__n"), sum(col("__xg")).as("__x")))
    val xD = col("__x0").cast("double")
    val xgD = col("__xg").cast("double")
    val ngD = col("__ng").cast("double")
    val xtD = col("__xt").cast("double")
    val ntD = col("__nt").cast("double")
    val within = units.select(col("__g"), col("__x").as("__x0"))
      .join(per, Seq("__g"))
      .groupBy(col("__g"))
      .agg(sum((xD / xgD) * log(xD * ngD / xgD)).as("__tw"))
    per
      .join(within, Seq("__g"))
      .crossJoin(tot.select(col("__n").as("__nt"), col("__x").as("__xt")))
      .select(col("__g").as(groupCol), col("__ng").as("n_units"),
        Portable.pround(xgD / xtD, 6).as("share_r"),
        Portable.pround(col("__tw"), 6).as("t_within_r"),
        Portable.pround(
          (xgD / xtD) * log(xgD * ntD / (xtD * ngD)), 6).as("t_between_r"))
      .orderBy(groupCol)
  }

  /** Top-k bivariate Mahalanobis outliers: rank rows by the covariance-
    * corrected distance d² = [dx²σ²y − 2·dx·dy·σxy + dy²σ²x]/det(Σ) —
    * the multivariate complement of [[robustOutliers]]' univariate MAD:
    * a (quantity, price) pair can be unremarkable on each axis yet far
    * off the correlation ridge, which is exactly the mispricing/
    * mislabeling signal a univariate screen misses.
    *
    * One exact-decimal moment pass over the INTEGER-valued pair (Σx, Σy,
    * Σx², Σy², Σxy — any agg order), moments ROUNDED into a broadcast
    * scalar row, then the distance is a map-side fixed-order scalar per
    * row, ROUNDED before the TakeOrdered (d² DESC, id) cut — no global
    * sort, no second pass.
    *
    * Returns the top-k (id, x, y, d2_r); degenerate covariance
    * (det ≤ 0 — a perfectly collinear or constant pair) yields no rows
    * rather than NaN ranks.
    */
  def mahalanobisOutliers(
      df: DataFrame,
      idCol: String,
      xCol: String,
      yCol: String,
      k: Int = 20): DataFrame = {
    require(k >= 1, s"k ($k) must be >= 1")
    val rows = df
      .select(col(idCol).as("id"), col(xCol).cast("long").as("__x"),
        col(yCol).cast("long").as("__y"))
      .where(col("__x").isNotNull && col("__y").isNotNull)
    val st = broadcast(rows.agg(
      count(lit(1)).as("__n"),
      sum(col("__x").cast("decimal(38,0)")).as("__sx"),
      sum(col("__y").cast("decimal(38,0)")).as("__sy"),
      sum(col("__x").cast("decimal(20,0)") * col("__x").cast("decimal(20,0)")).as("__sxx"),
      sum(col("__y").cast("decimal(20,0)") * col("__y").cast("decimal(20,0)")).as("__syy"),
      sum(col("__x").cast("decimal(20,0)") * col("__y").cast("decimal(20,0)")).as("__sxy")))
    val nD = col("__n").cast("double")
    def r6(c: Column) = Portable.pround(c, 6)
    val mx = r6(col("__sx").cast("double") / nD)
    val my = r6(col("__sy").cast("double") / nD)
    val vx = r6(col("__sxx").cast("double") / nD -
      (col("__sx").cast("double") / nD) * (col("__sx").cast("double") / nD))
    val vy = r6(col("__syy").cast("double") / nD -
      (col("__sy").cast("double") / nD) * (col("__sy").cast("double") / nD))
    val cxy = r6(col("__sxy").cast("double") / nD -
      (col("__sx").cast("double") / nD) * (col("__sy").cast("double") / nD))
    val dx = col("__x").cast("double") - col("__mx")
    val dy = col("__y").cast("double") - col("__my")
    val det = col("__vx") * col("__vy") - col("__cxy") * col("__cxy")
    rows
      .crossJoin(st.select(mx.as("__mx"), my.as("__my"), vx.as("__vx"),
        vy.as("__vy"), cxy.as("__cxy")))
      .where(det > 0.0)
      .select(col("id"), col("__x").as(xCol), col("__y").as(yCol),
        Portable.pround(
          (dx * dx * col("__vy") - lit(2.0) * dx * dy * col("__cxy")
            + dy * dy * col("__vx")) / det,
          4).as("d2_r"))
      .orderBy(col("d2_r").desc, col("id"))
      .limit(k)
  }

  /** Mutual-information feature ranking: MI(feature; label) in nats for
    * each categorical feature against a binary label, with the
    * H(label)-normalized share — "how much of the label's uncertainty
    * does knowing this column remove", the model-free screening that
    * catches NONLINEAR association χ²-style tests only gesture at
    * (MI = 0 ⟺ independent; [[Cooccurrence]]'s G² is 2N·MI for the
    * pairwise case — this is the feature-ranking readout).
    *
    * Per feature: one joint-cell aggregate (bounded by the category ×
    * label cardinalities), margins joined back, a cell-sized double sum
    * (the [[Portable]] caveat), all logs on exact integer ratios.
    * MI and H(label) are ROUNDED before the normalized share divides
    * them. Features evaluate independently and union — k small scans.
    *
    * Returns (feature, levels, mi_r, nmi_r) ordered by feature; nmi
    * reads NULL when H(label) = 0 (constant label — nothing to explain).
    */
  def mutualInformation(
      df: DataFrame,
      features: Seq[String],
      labelCol: String): DataFrame = {
    require(features.nonEmpty, "need at least one feature")
    val parts = features.map { f =>
      val rows = df
        .where(col(f).isNotNull && col(labelCol).isNotNull)
        .select(col(f).as("__x"),
          col(labelCol).cast("boolean").cast("int").as("__y"))
      val j = rows.groupBy(col("__x"), col("__y")).agg(count(lit(1)).as("__c"))
      val rx = j.groupBy(col("__x")).agg(sum(col("__c")).as("__cx"))
      val ry = j.groupBy(col("__y")).agg(sum(col("__c")).as("__cy"))
      val tot = broadcast(j.agg(
        sum(col("__c")).as("__n"), countDistinct(col("__x")).as("levels")))
      val cD = col("__c").cast("double")
      val nD = col("__n").cast("double")
      val mi = j
        .join(rx, Seq("__x")).join(broadcast(ry), Seq("__y")).crossJoin(tot)
        .agg(max(col("levels")).as("levels"),
          Portable.pround(
            sum((cD / nD) * log((cD * nD)
              / (col("__cx").cast("double") * col("__cy").cast("double")))),
            6).as("mi_r"))
      val h = ry.crossJoin(tot)
        .agg(Portable.pround(
          sum(-(col("__cy").cast("double") / nD)
            * log(col("__cy").cast("double") / nD)), 6).as("__h"))
      mi.crossJoin(broadcast(h))
        .select(lit(f).as("feature"), col("levels"), col("mi_r"),
          Portable.pround(
            when(col("__h") > 0.0, col("mi_r") / col("__h")), 4).as("nmi_r"))
    }
    parts.reduce(_ unionAll _).orderBy("feature")
  }

  /** Sample-ratio-mismatch check (the A/B-infrastructure tripwire; Fabijan
    * et al., "Diagnosing Sample Ratio Mismatch", KDD 2019): χ² goodness-
    * of-fit of observed bucket counts against the uniform k-way design,
    * reduced to a standard-normal z via the Wilhelm–Hilferty cube-root
    * transform — an SRM fires when the ASSIGNMENT is broken (bot
    * filtering, redirect loss, logging bias), which invalidates every
    * downstream metric, so this check gates the experiment readouts.
    *
    * Buckets 0..k−1 are spined in (a missing bucket is o=0 evidence, not
    * an absent row); counts are exact integers; the per-bucket χ² terms
    * combine over k metadata-sized doubles; the W–H constants are
    * Scala-computed literals emitted verbatim to both engines, so only
    * `cbrt` (correctly rounded on both) touches the rounded χ².
    *
    * Returns ONE row (k, n, chi2_r, z_r, srm) with srm = z_r > zCrit on
    * the ROUNDED z; n = 0 reads NULL χ²/z and srm false.
    */
  def srmCheck(
      df: DataFrame,
      bucketCol: String,
      k: Int,
      zCrit: Double = 1.959964): DataFrame = {
    require(k >= 2, s"k ($k) must be >= 2")
    val obs = df
      .where(col(bucketCol).isNotNull)
      .groupBy(col(bucketCol).cast("long").as("__b"))
      .agg(count(lit(1)).as("__o"))
    val spine = df.sparkSession.range(k).select(col("id").as("__b"))
    val cells = spine
      .join(obs, Seq("__b"), "left_outer")
      .na.fill(0L, Seq("__o"))
    val tot = broadcast(cells.agg(sum(col("__o")).as("__n")))
    val e = col("__n").cast("double") / k.toDouble
    val dfree = (k - 1).toDouble
    val c1 = 1.0 - 2.0 / (9.0 * dfree)
    val c2 = math.sqrt(2.0 / (9.0 * dfree))
    val chi2 = Portable.pround(col("__chi2"), 4)
    val z = Portable.pround((cbrt(chi2 / dfree) - c1) / c2, 4)
    cells
      .crossJoin(tot)
      .select(col("__n"),
        when(col("__n") > 0,
          (col("__o").cast("double") - e) * (col("__o").cast("double") - e) / e)
          .otherwise(lit(0.0)).as("__t"))
      .agg(max(col("__n")).as("n"), sum(col("__t")).as("__chi2"))
      .select(lit(k).as("k"), col("n"),
        when(col("n") > 0, chi2).as("chi2_r"),
        when(col("n") > 0, z).as("z_r"),
        coalesce(when(col("n") > 0, z) > zCrit, lit(false)).as("srm"))
  }

  /** Wilson score interval per group (Wilson, JASA 1927): the binomial
    * proportion CI that actually covers at small n and extreme p̂ — the
    * Wald interval (p̂ ± z√(p̂q̂/n)) collapses to zero width at p̂∈{0,1}
    * and undercovers everywhere near the edges, which is exactly where
    * defect-rate monitoring lives. Center shrinks toward 1/2 by the
    * z²/n prior mass; bounds stay inside [0,1] by construction.
    *
    * One partial-agg pass; p̂, lo, hi are fixed-order scalars from the
    * exact integer (n, successes) — deterministic under any agg order.
    *
    * Returns (group, n, successes, p_r, lo_r, hi_r) ordered by group.
    */
  def wilsonCi(
      df: DataFrame,
      groupCol: String,
      successCol: String,
      z: Double = 1.959964): DataFrame = {
    require(z > 0, s"z ($z) must be positive")
    val per = df
      .where(col(groupCol).isNotNull && col(successCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(when(col(successCol).cast("boolean"), 1L).otherwise(0L)).as("successes"))
    val nD = col("n").cast("double")
    val pD = col("successes").cast("double") / nD
    val zD = lit(z)
    val denom = lit(1.0) + zD * zD / nD
    val center = (pD + zD * zD / (lit(2.0) * nD)) / denom
    val half = zD * sqrt(pD * (lit(1.0) - pD) / nD
      + zD * zD / (lit(4.0) * (nD * nD))) / denom
    per.select(col(groupCol), col("n"), col("successes"),
      Portable.pround(pD, 6).as("p_r"),
      Portable.pround(center - half, 6).as("lo_r"),
      Portable.pround(center + half, 6).as("hi_r"))
      .orderBy(groupCol)
  }

  /** Benjamini–Hochberg FDR control (JRSS-B 1995) over a TEST-FAMILY
    * relation: rank the p-values, find the largest k with p_(k) ≤ q·k/m,
    * reject ranks ≤ k — the multiple-comparisons gate every per-group
    * screening pass needs (k tests at α each "discover" αk noise rates;
    * BH bounds the FALSE-DISCOVERY fraction at q instead). Monotone in
    * rank, so the step-up rule is exactly the rank ≤ kmax predicate.
    *
    * The relation is the test family — k hypotheses, METADATA-sized (one
    * row per group), so the rank window over it is bounded by design
    * (whitelisted like the mixture/budget cumulatives); the verdict
    * compares the ROUNDED p against the ROUNDED criterion, so both
    * engines decide identically. Two broadcast scalars (m, kmax).
    *
    * Returns the input + (rank, crit_r, rejected), ordered by rank.
    */
  def bhAdjust(
      df: DataFrame,
      pCol: String,
      tieCol: String,
      q: Double = 0.1): DataFrame = {
    require(q > 0 && q < 1, s"q ($q) must be in (0, 1)")
    val w = Window.orderBy(col(pCol), col(tieCol))
    val m = broadcast(df.agg(count(lit(1)).as("__m")))
    val ranked = df
      .crossJoin(m)
      .withColumn("rank", row_number().over(w))
      .withColumn("crit_r", Portable.pround(
        lit(q) * col("rank").cast("double") / col("__m").cast("double"), 6))
    val kmax = broadcast(ranked.agg(
      max(when(col(pCol) <= col("crit_r"), col("rank"))).as("__kmax")))
    ranked
      .crossJoin(kmax)
      .withColumn("rejected", coalesce(col("rank") <= col("__kmax"), lit(false)))
      .drop("__m", "__kmax")
      .orderBy("rank")
  }

  /** Cramér's V association between two categorical columns (Cramér 1946):
    * the χ²-based effect size normalized to [0,1] — comparable across
    * tables of any shape, which raw χ² is not (χ² grows with n; V
    * answers "HOW associated", the question the chi2 test's verdict
    * leaves open). Uses the algebraic form χ² = n(Σ o²/(r_a·c_b) − 1):
    * one cell-level relation (bounded by the two category cardinalities
    * — metadata-sized for real categorical columns), margins joined
    * back, a cell-count-sized double sum (the [[Portable]] caveat), and
    * fixed-order scalars. V derives from the ROUNDED χ² per the
    * derive-from-rounded-pieces rule.
    *
    * Returns ONE row (n, levels_a, levels_b, chi2_r, v_r); v reads NULL
    * for a 1×c or r×1 table (min(r−1,c−1) = 0 — association undefined).
    */
  def cramersV(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df
      .where(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).as("__a"), col(bCol).as("__b"))
      .agg(count(lit(1)).as("__o"))
    val ra = cells.groupBy(col("__a")).agg(sum(col("__o")).as("__ra"))
    val cb = cells.groupBy(col("__b")).agg(sum(col("__o")).as("__cb"))
    val nD = col("n").cast("double")
    val chi2 = Portable.pround(nD * (col("__q") - 1.0), 6)
    val mn = least(col("levels_a") - 1, col("levels_b") - 1).cast("double")
    cells
      .join(ra, Seq("__a"))
      .join(cb, Seq("__b"))
      .agg(
        sum(col("__o")).as("n"),
        countDistinct(col("__a")).as("levels_a"),
        countDistinct(col("__b")).as("levels_b"),
        sum(col("__o").cast("double") * col("__o").cast("double")
          / (col("__ra").cast("double") * col("__cb").cast("double"))).as("__q"))
      .select(col("n"), col("levels_a"), col("levels_b"),
        chi2.as("chi2_r"),
        Portable.pround(
          when(mn > 0.0, sqrt(chi2 / (nD * mn))), 6).as("v_r"))
  }

  /** One-way ANOVA over an INTEGER-valued measure: the F statistic and
    * effect size η² = SSB/SST for a categorical factor — "does the group
    * mean differ more than within-group noise explains", the k-group
    * generalization [[welchTTest]] answers pairwise and [[kruskalWallis]]
    * answers on ranks. Per-group Σx and Σx² ride EXACT decimal sums (any
    * summation order), the between-group term Σ S_g²/n_g combines k
    * group-level doubles (group-cardinality-sized — the [[Portable]]
    * shuffled-sum caveat applies only within an ulp of a rounding
    * boundary), and F/η² are fixed-order scalar expressions. One
    * partial-agg pass over rows, one over groups.
    *
    * Returns ONE row (k, n, f_r, eta2_r); F reads NULL when k < 2, n ≤ k,
    * or SSW = 0 (no within-group variance — F is infinite/undefined).
    */
  def anovaOneWay(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val rows = df
      .select(col(groupCol).as("__g"), col(valueCol).cast("long").as("__x"))
      .where(col("__g").isNotNull && col("__x").isNotNull)
    val per = rows
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("__n"),
        sum(col("__x").cast("decimal(38,0)")).as("__s"),
        sum(col("__x").cast("decimal(20,0)") * col("__x").cast("decimal(20,0)"))
          .as("__ss"))
    val t1 = col("__t1").cast("double")
    val t2 = col("__t2").cast("double")
    val nD = col("n").cast("double")
    val ssb = col("__bg") - t1 * t1 / nD
    val ssw = t2 - col("__bg")
    val sst = t2 - t1 * t1 / nD
    per
      .agg(
        count(lit(1)).as("k"),
        sum(col("__n")).as("n"),
        sum(col("__s")).as("__t1"),
        sum(col("__ss")).as("__t2"),
        sum(col("__s").cast("double") * col("__s").cast("double")
          / col("__n").cast("double")).as("__bg"))
      .select(col("k"), col("n"),
        Portable.pround(
          when(col("k") > 1 && col("n") > col("k") && ssw > 0.0,
            (ssb / (col("k") - 1).cast("double"))
              / (ssw / (col("n") - col("k")).cast("double"))),
          4).as("f_r"),
        Portable.pround(when(sst > 0.0, ssb / sst), 4).as("eta2_r"))
  }

  /** OLS trend DIAGNOSTICS per group: Durbin–Watson serial-correlation
    * statistic (Biometrika 1950) and the maximum Cook's distance
    * (Technometrics 1977) over the residuals of the per-group linear
    * trend — "is the fitted trend missing autocorrelated structure"
    * (DW ≈ 2 none; → 0 positive; → 4 negative) and "which single period
    * is steering the fit" (max influence + its x). [[groupedOls]] fits;
    * this says whether to TRUST the fit.
    *
    * Parity: slope from exact decimal sums then 6-dp rounded; intercept
    * from the ROUNDED slope; residuals from the rounded pair (the
    * derive-from-rounded-pieces rule), then scaled to 1e6-INTEGERS so
    * the DW numerator/denominator are sums of exact decimal squares —
    * the 1e12 scale cancels in the ratio, and a double-side floor of
    * e²·1e6 would overflow Spark floor()'s LONG; Cook's distance rounds
    * per row BEFORE the (cook, x) struct-max so argmax tie-breaks are
    * cross-engine identical. The lag window partitions per group over
    * the calendar-bounded series; joins against the group table
    * broadcast.
    *
    * Returns (group, n, slope_r, dw_r, cook_max_r, cook_x); dw NULL
    * when SSE = 0, cook NULL when n < 3 or a leverage hits 1.
    */
  def olsDiagnostics(
      df: DataFrame,
      groupCol: String,
      xCol: String,
      yCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nD = col("__n").cast("double")
    val sxD = col("__sx").cast("double")
    val dxx = nD * col("__sxx").cast("double") - sxD * sxD
    val per = df
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("__n"),
        sum(col(xCol).cast("decimal(20,0)")).as("__sx"),
        sum(col(yCol).cast("decimal(18,2)")).as("__sy"),
        sum(col(xCol).cast("decimal(20,0)") * col(yCol).cast("decimal(18,2)")).as("__sxy"),
        sum(col(xCol).cast("decimal(20,0)") * col(xCol).cast("decimal(20,0)")).as("__sxx"))
      .where(col("__n") >= 2 && dxx > 0.0)
      .withColumn("__b", Portable.pround(
        (nD * col("__sxy").cast("double") - sxD * col("__sy").cast("double")) / dxx, 6))
      .withColumn("__a", Portable.pround(
        (col("__sy").cast("double") - col("__b") * sxD) / nD, 6))
    // residuals scale to 1e6-integers FIRST, squares ride exact decimal
    // products (a double-side floor of e²·1e6 would overflow the LONG
    // that Spark's floor() returns — measured clamping to Long.MaxValue
    // on a 3e6-swing residual pair); the 1e12 scale cancels in DW
    val z38 = lit(0L).cast("decimal(38,0)")
    val w = Window.partitionBy(col(groupCol)).orderBy(col(xCol))
    val rows = df
      .join(broadcast(per), Seq(groupCol))
      .withColumn("__e", Portable.pround(
        col(yCol).cast("double") - (col("__a") + col("__b") * col(xCol).cast("double")), 6))
      .withColumn("__ei", floor(col("__e") * 1e6 + lit(0.5)).cast("decimal(20,0)"))
      .withColumn("__eli", lag(col("__ei"), 1).over(w))
      .withColumn("__d_i",
        when(col("__eli").isNotNull,
          ((col("__ei") - col("__eli")) * (col("__ei") - col("__eli"))).cast("decimal(38,0)"))
          .otherwise(z38))
      .withColumn("__e2_i", (col("__ei") * col("__ei")).cast("decimal(38,0)"))
    val sums = rows
      .groupBy(col(groupCol))
      .agg(sum(col("__d_i")).as("__sd"), sum(col("__e2_i")).as("__se2"))
    val seD = col("__se2").cast("double") / 1e12
    // leverage h and Cook's D need the group SSE — second metadata-sized
    // pass over the calendar-bounded rows with the sums broadcast back
    val hX = lit(1.0) / nD +
      (col(xCol).cast("double") - sxD / nD) * (col(xCol).cast("double") - sxD / nD) /
        (col("__sxx").cast("double") - sxD * (sxD / nD))
    val s2 = seD / (nD - lit(2.0))
    val cook = rows
      .join(broadcast(sums), Seq(groupCol))
      .withColumn("__h", hX)
      .withColumn("__cook", Portable.pround(
        when(col("__n") >= 3 && col("__h") < 1.0 && seD > 0.0,
          col("__e") * col("__e") * col("__h")
            / (lit(2.0) * s2 * (lit(1.0) - col("__h")) * (lit(1.0) - col("__h")))), 6))
      .groupBy(col(groupCol))
      .agg(
        first(col("__n")).as("n"),
        first(col("__b")).as("slope_r"),
        first(col("__sd")).as("__sd"),
        first(col("__se2")).as("__se2"),
        max(when(col("__cook").isNotNull,
          struct(col("__cook").as("c"), col(xCol).cast("long").as("x")))).as("__mx"))
    cook.select(
      col(groupCol), col("n"), col("slope_r"),
      Portable.pround(
        when(col("__se2") > 0,
          col("__sd").cast("double") / col("__se2").cast("double")), 4)
        .as("dw_r"),
      col("__mx.c").as("cook_max_r"),
      col("__mx.x").as("cook_x"))
  }

  /** Cochran–Mantel–Haenszel stratified association test (Cochran 1954;
    * Mantel & Haenszel 1959) over a binary exposure × binary outcome,
    * controlling for a stratum: the pooled χ²(1) of Σ(a_k − E[a_k])
    * against the hypergeometric ΣVar, the Mantel–Haenszel pooled odds
    * ratio Σ(a·d/T)/Σ(b·c/T), and a SIMPSON FLAG — how many strata's
    * association runs OPPOSITE the aggregate (the aggregation paradox
    * [[cramersV]] on the collapsed table can't see: the collapsed
    * association can invert every stratum's).
    *
    * Scale shape: one partial-agg pass collapses rows to the k×4 cell
    * table; everything after is stratum-cardinality-sized, aggregate
    * totals broadcast back for the flip count. Parity: cells are exact
    * integers; per-stratum E/V/OR terms round to 6 dp then 1e6-scale
    * into exact decimal sums (the logRank discipline); χ²/OR are
    * fixed-order scalars; per-stratum diffs round BEFORE the sign
    * comparison.
    *
    * Returns ONE row (k, n, a_total, chi2_r, or_mh_r, agg_diff_r,
    * n_flipped); χ² NULL when ΣV = 0, OR NULL when Σ(b·c/T) = 0.
    */
  def cmhTest(
      df: DataFrame,
      stratumCol: String,
      exposureCol: String,
      outcomeCol: String): DataFrame = {
    val x = col(exposureCol)
    val y = col(outcomeCol)
    val cells = df
      .where(col(stratumCol).isNotNull && x.isNotNull && y.isNotNull)
      .groupBy(col(stratumCol).as("__s"))
      .agg(
        sum(when(x && y, 1L).otherwise(0L)).as("__a"),
        sum(when(x && !y, 1L).otherwise(0L)).as("__b"),
        sum(when(!x && y, 1L).otherwise(0L)).as("__c"),
        sum(when(!x && !y, 1L).otherwise(0L)).as("__d"))
    val n1 = (col("__a") + col("__b")).cast("double")
    val n0 = (col("__c") + col("__d")).cast("double")
    val m1 = (col("__a") + col("__c")).cast("double")
    val m0 = (col("__b") + col("__d")).cast("double")
    val tD = (col("__a") + col("__b") + col("__c") + col("__d")).cast("double")
    val tL = col("__a") + col("__b") + col("__c") + col("__d")
    val i6 = (c: Column) => floor(c * 1e6 + lit(0.5)).cast("decimal(38,0)")
    val z38 = lit(0L).cast("decimal(38,0)")
    val diffK = Portable.pround(
      col("__a").cast("double") / n1 - col("__c").cast("double") / n0, 6)
    val terms = cells
      .withColumn("__e_i", when(tL > 0, i6(n1 * m1 / tD)).otherwise(z38))
      .withColumn("__v_i",
        when(tL > 1, i6(n1 * n0 * m1 * m0 / (tD * tD * (tD - lit(1.0))))).otherwise(z38))
      .withColumn("__on_i",
        when(tL > 0, i6(col("__a").cast("double") * col("__d").cast("double") / tD)).otherwise(z38))
      .withColumn("__od_i",
        when(tL > 0, i6(col("__b").cast("double") * col("__c").cast("double") / tD)).otherwise(z38))
      .withColumn("__diff",
        when(col("__a") + col("__b") > 0 && col("__c") + col("__d") > 0, diffK))
    val agg = terms.agg(
      count(lit(1)).as("k"),
      sum(col("__a") + col("__b") + col("__c") + col("__d")).as("n"),
      sum(col("__a")).as("__at"), sum(col("__b")).as("__bt"),
      sum(col("__c")).as("__ct"), sum(col("__d")).as("__dt"),
      sum(col("__e_i")).as("__se"), sum(col("__v_i")).as("__sv"),
      sum(col("__on_i")).as("__son"), sum(col("__od_i")).as("__sod"))
    val aggDiff = Portable.pround(
      col("__at").cast("double") / (col("__at") + col("__bt")).cast("double")
        - col("__ct").cast("double") / (col("__ct") + col("__dt")).cast("double"), 6)
    val aggRow = agg
      .withColumn("agg_diff_r",
        when(col("__at") + col("__bt") > 0 && col("__ct") + col("__dt") > 0, aggDiff))
    val flips = terms
      .crossJoin(broadcast(aggRow.select(col("agg_diff_r").as("__ad"))))
      .agg(sum(when(col("__diff").isNotNull && col("__ad").isNotNull &&
        col("__diff") * col("__ad") < 0.0, 1L).otherwise(0L)).as("n_flipped"))
    val num = col("__at").cast("double") - col("__se").cast("double") / 1e6
    aggRow
      .crossJoin(broadcast(flips))
      .select(
        col("k"), col("n"), col("__at").as("a_total"),
        Portable.pround(
          when(col("__sv") > 0,
            num * num / (col("__sv").cast("double") / 1e6)), 4).as("chi2_r"),
        Portable.pround(
          when(col("__sod") > 0,
            (col("__son").cast("double") / 1e6) / (col("__sod").cast("double") / 1e6)), 4)
          .as("or_mh_r"),
        col("agg_diff_r"),
        col("n_flipped"))
  }

  /** Brown–Forsythe (median-centered Levene) test over an INTEGER-valued
    * measure: are the group VARIANCES equal — the homoscedasticity check
    * [[anovaOneWay]] silently assumes and [[welchTTest]] exists to dodge.
    * The statistic is one-way ANOVA on z_ij = |x_ij − median_j|; the
    * median centering (Brown–Forsythe 1974) keeps the test robust under
    * skew where mean-centered Levene overrejects.
    *
    * Exactness: with integer x the 6-dp-rounded per-group median is
    * exactly .0 or .5, so w = 2·z is an INTEGER — Σw and Σw² ride exact
    * decimal sums (any summation order), and because F is scale-
    * invariant, F on w equals F on z with no division by 2 ever touching
    * a sum. Scale shape: one partial-agg pass for medians (Spark exact
    * `percentile`), one row-level pass joined against the BROADCAST
    * k-row median table, one partial-agg pass for the sums — the
    * [[robustOutliers]] median discipline with the [[anovaOneWay]]
    * combine.
    *
    * Returns ONE row (k, n, f_r); F reads NULL when k < 2, n ≤ k, or
    * SSW = 0.
    */
  def brownForsythe(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val rows = df
      .select(col(groupCol).as("__g"), col(valueCol).cast("long").as("__x"))
      .where(col("__g").isNotNull && col("__x").isNotNull)
    val med = rows
      .groupBy(col("__g"))
      .agg(Portable.pround(expr("percentile(__x, 0.5)"), 6).as("__med"))
    // w = 2|x − med| is exact: x integer, med half-integer, both exact doubles
    val w = floor(abs(col("__x").cast("double") - col("__med")) * 2 + lit(0.5))
      .cast("decimal(20,0)")
    val per = rows
      .join(broadcast(med), Seq("__g"))
      .select(col("__g"), w.as("__w"))
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("__n"),
        sum(col("__w")).as("__s"),
        sum(col("__w") * col("__w")).as("__ss"))
    val t1 = col("__t1").cast("double")
    val t2 = col("__t2").cast("double")
    val nD = col("n").cast("double")
    val ssb = col("__bg") - t1 * t1 / nD
    val ssw = t2 - col("__bg")
    per
      .agg(
        count(lit(1)).as("k"),
        sum(col("__n")).as("n"),
        sum(col("__s")).cast("decimal(38,0)").as("__t1"),
        sum(col("__ss")).cast("decimal(38,0)").as("__t2"),
        sum(col("__s").cast("double") * col("__s").cast("double")
          / col("__n").cast("double")).as("__bg"))
      .select(col("k"), col("n"),
        Portable.pround(
          when(col("k") > 1 && col("n") > col("k") && ssw > 0.0,
            (ssb / (col("k") - 1).cast("double"))
              / (ssw / (col("n") - col("k")).cast("double"))),
          4).as("f_r"))
  }

  /** Yule's characteristic K per source (Yule, "The Statistical Study of
    * Literary Vocabulary", 1944): K = 10⁴·(Σ_r N_r·r² − N)/N² from the
    * frequency-of-frequencies profile — vocabulary REPETITIVENESS that,
    * unlike type-token ratio, is (asymptotically) length-invariant, so
    * sources of different sizes compare honestly; high K = a few terms
    * dominate (template/boilerplate sources), low K = rich vocabulary.
    * [[tokenEntropy]] measures the same axis in bits; K is the
    * stylometry-standard second moment, and hapax share rides along
    * (Good–Turing's N₁ — how much of the vocabulary is one-offs).
    *
    * Scale shape: corpus → (source, word) counts in ONE partial-agg
    * pass, then source-sized reductions; Σf² rides exact decimal sums
    * (f ≤ N so f² ≤ 1e12 per row at any realistic source), K is one
    * fixed-order scalar from exact integers.
    *
    * Returns (source, n_tokens, n_types, hapax, yules_k_r).
    */
  def yulesK(tokens: DataFrame, sourceCol: String): DataFrame = {
    val cnt = tokens
      .select(col(sourceCol).as("source"), col("word"))
      .groupBy(col("source"), col("word"))
      .agg(count(lit(1)).as("__f"))
    val nD = col("n_tokens").cast("double")
    cnt
      .groupBy(col("source"))
      .agg(
        sum(col("__f")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("__f") === 1L, 1L).otherwise(0L)).as("hapax"),
        sum(col("__f").cast("decimal(20,0)") * col("__f").cast("decimal(20,0)"))
          .cast("decimal(38,0)").as("__s2"))
      .select(col("source"), col("n_tokens"), col("n_types"), col("hapax"),
        Portable.pround(
          lit(1e4) * (col("__s2").cast("double") - nD) / (nD * nD), 6).as("yules_k_r"))
  }

  /** Jarque–Bera normality test per group (Jarque & Bera, Economics
    * Letters 1980) over an INTEGER-valued measure: JB =
    * n/6·(S² + (K−3)²/4) from sample skewness S and kurtosis K — "is
    * this column even plausibly normal", the assumption check in front
    * of every moment-based readout ([[anovaOneWay]], [[welchTTest]],
    * [[minDetectableEffect]]'s normal power formula). The χ²(2) null
    * makes the p-value CLOSED FORM — P(χ²₂ > x) = exp(−x/2) exactly —
    * so no quantile approximation enters the chain.
    *
    * Exactness: a two-pass anchored-moment build. Pass 1 takes each
    * group's exact Σx and anchors μ_i = floor(Σx/n + 0.5) — an INTEGER
    * near the mean. Pass 2 sums d = x − μ_i powers as EXACT decimal
    * aggregates (d⁴ ≤ 1e16 per row at d ~ 1e4 — far inside
    * decimal(38,0), where 6-dp-scaled residuals would overflow at the
    * 4th power); the true central moments then follow from the exact
    * shift identities with c = Σd/n (|c| ≤ ½ so no cancellation):
    * m₂ = M₂/n − c², m₃ = M₃/n − 3c·M₂/n + 2c³,
    * m₄ = M₄/n − 4c·M₃/n + 6c²·M₂/n − 3c⁴. S and K round to 6 dp, JB
    * derives from the ROUNDED pair (4 dp), p from the ROUNDED JB — the
    * derive-from-rounded-pieces rule end to end, every sum
    * partial-agg-order independent.
    *
    * Scale shape: two partial-agg passes + one broadcast anchor join;
    * state is 4 decimals per group, output group-cardinality-sized.
    *
    * Returns (group, n, skew_r, kurt_r, jb_r, p_r); NULL statistics
    * when n < 8 or the group is constant (m₂ = 0).
    */
  def jarqueBera(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val rows = df
      .select(col(groupCol).as("__g"), col(valueCol).cast("long").as("__x"))
      .where(col("__g").isNotNull && col("__x").isNotNull)
    val anchor = rows
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("__n"), sum(col("__x").cast("decimal(38,0)")).as("__s1"))
      .select(col("__g"), col("__n"),
        floor(col("__s1").cast("double") / col("__n").cast("double") + lit(0.5))
          .cast("long").as("__mu"))
    val d = (col("__x") - col("__mu")).cast("decimal(19,0)")
    val per = rows
      .join(broadcast(anchor), Seq("__g"))
      .select(col("__g"), col("__n"), d.as("__d"))
      .groupBy(col("__g"))
      .agg(
        first(col("__n")).as("n"),
        sum(col("__d")).cast("decimal(38,0)").as("__m1"),
        sum(col("__d") * col("__d")).cast("decimal(38,0)").as("__m2"),
        sum(col("__d") * col("__d") * col("__d")).cast("decimal(38,0)").as("__m3"),
        sum(col("__d") * col("__d") * col("__d") * col("__d"))
          .cast("decimal(38,0)").as("__m4"))
    val nD = col("n").cast("double")
    val c = col("__m1").cast("double") / nD
    val r2 = col("__m2").cast("double") / nD
    val r3 = col("__m3").cast("double") / nD
    val r4 = col("__m4").cast("double") / nD
    val m2 = r2 - c * c
    val m3 = r3 - lit(3.0) * c * r2 + lit(2.0) * c * c * c
    val m4 = r4 - lit(4.0) * c * r3 + lit(6.0) * c * c * r2 - lit(3.0) * c * c * c * c
    per
      .withColumn("skew_r", Portable.pround(
        when(col("n") >= 8 && m2 > 0.0, m3 / (m2 * sqrt(m2))), 6))
      .withColumn("kurt_r", Portable.pround(
        when(col("n") >= 8 && m2 > 0.0, m4 / (m2 * m2)), 6))
      .withColumn("jb_r", Portable.pround(
        nD / lit(6.0) * (col("skew_r") * col("skew_r")
          + (col("kurt_r") - lit(3.0)) * (col("kurt_r") - lit(3.0)) / lit(4.0)), 4))
      .select(col("__g").as(groupCol), col("n"),
        col("skew_r"), col("kurt_r"), col("jb_r"),
        Portable.pround(exp(-col("jb_r") / lit(2.0)), 6).as("p_r"))
  }

  /** Fisher-style randomization test for a two-group mean difference
    * (Fisher 1935; the modern A/B "shuffle the labels" significance
    * check): the observed treated−control mean gap is compared against
    * `b` re-randomizations of the treatment label, p =
    * (1 + #{|Δ_rand| ≥ |Δ_obs|}) / (b + 1) — the distribution-free
    * answer to "could this lift be label noise" with NO normality or
    * equal-variance assumption ([[welchTTest]]'s model-free sibling;
    * [[bootstrapMeanCi]] bounds the estimate, this scores the null).
    *
    * Re-randomization is the Bernoulli(p̂) form (each unit independently
    * redrawn treated with the OBSERVED treatment fraction — Chamandy's
    * map-reduce discipline, like the Poisson bootstrap next door): the
    * draws are md5 inverse-CDF uniforms, FOUR per digest (reps 4m..4m+3
    * slice the four disjoint 8-hex windows of md5(salt:m:id) — the
    * digest dominates the b× scan's map cost and the 32-hex budget
    * admits four independent 32-bit draws), so every replica is
    * rerun-stable and the oracle replays the whole null distribution
    * exactly. Values are INTEGER-valued (cents discipline), so all
    * replica sums are exact decimal aggregates; each replica's gap —
    * and the observed gap — rounds to 6 dp BEFORE the |Δ| comparison,
    * so the count of extreme replicas is cross-engine identical. Work =
    * b× the scan (one explode + one partial agg); state = 2 sums per
    * (rep, side); output is ONE row.
    *
    * Returns (n, n_treat, diff_obs_r, b_eff, n_extreme, p_r); replicas
    * that draw an empty side are dropped (b_eff counts survivors —
    * vanishingly rare at any real n). A degenerate OBSERVED sample with
    * one arm empty (n_treat = 0 or n_treat = n) fails fast at execution
    * via raise_error — the label shuffle is undefined on a single-arm
    * sample, and the naive read would be a null diff and a meaningless
    * p (the runtime analog of the b >= 4 require; data-dependent, so it
    * can't be a plan-time check).
    */
  def randomizationTest(
      df: DataFrame,
      treatCol: String,
      valueCol: String,
      idCol: String,
      b: Int = 64,
      salt: String = "perm"): DataFrame = {
    require(b >= 4, s"b ($b) must be at least 4")
    val rows = df
      .select(col(treatCol).cast("boolean").as("__t"),
        col(valueCol).cast("long").as("__x"), col(idCol).as("__id"))
      .where(col("__t").isNotNull && col("__x").isNotNull)
    val obs = rows.agg(
      count(lit(1)).as("n"),
      sum(col("__t").cast("long")).as("n_treat"),
      sum(when(col("__t"), col("__x")).otherwise(0L).cast("decimal(20,0)")).as("__s1"),
      sum(when(!col("__t"), col("__x")).otherwise(0L).cast("decimal(20,0)")).as("__s0"))
      .select(col("n"), col("n_treat"),
        Portable.pround(
          when(col("n_treat") > 0L && col("n_treat") < col("n"),
            col("__s1").cast("double") / col("n_treat").cast("double")
              - col("__s0").cast("double") / (col("n") - col("n_treat")).cast("double"))
            .otherwise(raise_error(format_string(
              "randomizationTest: one arm is empty (n=%d, n_treat=%d) — " +
                "a single-arm sample has no label shuffle",
              col("n"), col("n_treat"))).cast("double")), 6)
          .as("diff_obs_r"),
        (col("n_treat").cast("double") / col("n").cast("double")).as("__frac"))
    // md5 uniforms, FOUR draws per digest: reps 4m..4m+3 read the four
    // disjoint 8-hex windows of md5(salt:m:id) (32-bit dyadics u32/2^32 —
    // independent slices of one digest, the minhash SlicesPerDigest
    // discipline). TWO-STAGE generate so the digest is EVALUATED once per
    // quad, not once per rep: expressions have no cross-row CSE, so a
    // single b-way explode reading floor(rep/4) recomputes the identical
    // digest four times (r15's 2-draw layout measured 15.9 s isolated
    // min-of-5 at sf0.1, b = 64; the 4-slice single-explode variant
    // 12.7 s; this quad-stage form 9.5 s — the digest count, not the
    // slice width, is the lever).
    //
    // spread the b× fan-out BEFORE it exists: a small single-file input
    // scans as few partitions, and the 64-replica explode multiplies
    // whatever skew the scan had. One cheap shuffle of the BASE rows
    // buys an evenly-parallel digest stage; at real scale the input is
    // already many-partitioned and this exchange is noise.
    // r20 optimization (guide §2.3 — aggregate before you shuffle, and
    // don't explode what a wide aggregate can fold): the former shape
    // exploded the four slices of each quad digest into their own rows
    // (4× the quad stream — 9.6M rows at sf0.1, b = 64) and grouped by
    // rep with 4 aggregate columns. The slice axis is a compile-time
    // constant, so the four slices now aggregate IN PLACE as 16 columns
    // grouped by quad (2.4M rows through the hash aggregate instead of
    // 9.6M; the digest count — the map-cost lever, see the quad note
    // above — is unchanged), and the 16 finished sums unfold into the
    // same 64 (rep, n1, n0, s1, s0) rows AFTER aggregation,
    // metadata-sized. Group (q, sl) == group rep (= 4q + sl) row for
    // row, and every sum is the same exact decimal over the same rows,
    // so each replica's diff is bit-identical (oracle re-verified
    // sf0.001/0.01/0.1). Isolated min-of-5: 11.27 s → see
    // OPTIMIZATION_r20.md.
    // r21 (guide §2): `repartition(col)` leaves the partition COUNT to AQE,
    // and the byte heuristic folds this ~1.6 MiB exchange into ONE task —
    // serializing the b×-fan-out digest stage behind it (profiled: 4.9 s of
    // the 5.4 s wall in that single task). Spread issues the same hash
    // exchange with an EXPLICIT partition count (session parallelism),
    // which AQE must respect, and is the identity on wide inputs at scale.
    val reps = graft.functions.Spread(rows, col("__id"))
      .crossJoin(broadcast(obs.select(col("__frac"))))
      .withColumn("__q", explode(sequence(lit(0), lit((b + 3) / 4 - 1))))
      .withColumn("__dg", md5(concat(
        lit(s"$salt:"), col("__q").cast("int").cast("string"),
        lit(":"), col("__id").cast("string"))))
      .select(col("__q") +: col("__x") +: (0 until 4).map { sl =>
        (graft.functions.HexSlice.u(col("__dg"), sl * 8 + 1, 8)
          .cast("double") / lit(4294967296.0) < col("__frac")).as(s"__rt$sl")
      }: _*)
      .groupBy(col("__q"))
      .agg(
        // decimal(20,0) INPUTS, not 38: a long-backed per-row cast with a
        // decimal(30,0) sum is exact to 1e30 (cents × any realistic row
        // count) while the Int128 cast of a 38-precision input measured
        // 4× the whole aggregate's cost on the replica stream
        sum(col("__rt0").cast("long")).as("__n1_0"),
        (0 until 4).flatMap { sl =>
          val rt = col(s"__rt$sl")
          (if (sl == 0) Seq.empty[Column]
           else Seq(sum(rt.cast("long")).as(s"__n1_$sl"))) ++ Seq(
            sum((!rt).cast("long")).as(s"__n0_$sl"),
            sum(when(rt, col("__x")).otherwise(0L).cast("decimal(20,0)")).as(s"__s1_$sl"),
            sum(when(!rt, col("__x")).otherwise(0L).cast("decimal(20,0)")).as(s"__s0_$sl"))
        }: _*)
      .select(explode(array((0 until 4).map { sl =>
        struct(
          (col("__q") * 4 + sl).as("__rep"),
          col(s"__n1_$sl").as("__n1"), col(s"__n0_$sl").as("__n0"),
          col(s"__s1_$sl").as("__s1"), col(s"__s0_$sl").as("__s0"))
      }: _*)).as("__r"))
      .select(col("__r.__rep").as("__rep"), col("__r.__n1").as("__n1"),
        col("__r.__n0").as("__n0"), col("__r.__s1").as("__s1"), col("__r.__s0").as("__s0"))
      .where(col("__rep") < b)
      .where(col("__n1") > 0 && col("__n0") > 0)
      .select(Portable.pround(
        col("__s1").cast("double") / col("__n1").cast("double")
          - col("__s0").cast("double") / col("__n0").cast("double"), 6).as("__diff"))
    obs
      .crossJoin(broadcast(
        reps.crossJoin(broadcast(obs.select(col("diff_obs_r").as("__o"))))
          .agg(count(lit(1)).as("b_eff"),
            sum((abs(col("__diff")) >= abs(col("__o"))).cast("long")).as("n_extreme"))))
      .select(col("n"), col("n_treat"), col("diff_obs_r"), col("b_eff"), col("n_extreme"),
        Portable.pround(
          (col("n_extreme") + lit(1)).cast("double") / (col("b_eff") + lit(1)).cast("double"), 6)
          .as("p_r"))
  }
}
