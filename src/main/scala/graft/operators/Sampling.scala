package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Materialize.Pinned

/** Deterministic, reproducible sampling for training-data pipelines.
  *
  * `df.sample()` draws from a per-partition RNG: the selected rows change
  * with partitioning, task retries, and cluster size — unacceptable when a
  * 100 TB corpus snapshot must be reproducible across reruns and resumes.
  * Here the keep/drop decision is a pure function of the row id (first 8
  * md5 hex chars of "salt:id" as a uint32, kept iff below
  * fraction·2³²), so every engine — including the DuckDB oracle — selects
  * the IDENTICAL rows. Map-side only: no shuffle, no RNG state, prunes at
  * the scan when the filter is the only predicate.
  *
  * The salt decouples independent samples: two samples with different
  * salts are uncorrelated; reusing a salt with a larger fraction yields a
  * SUPERSET of the smaller sample (nested samples — handy for scaling-law
  * data ladders).
  */
object Sampling {

  /** uint32 threshold for a keep-fraction in [0, 1]. */
  def threshold(fraction: Double): Long = {
    require(fraction >= 0.0 && fraction <= 1.0, s"fraction $fraction outside [0,1]")
    (fraction * 4294967296.0).toLong
  }

  /** The deterministic uint32 hash of (salt, id). */
  def sampleHash(id: Column, salt: String): Column =
    graft.functions.HexSlice.u(md5(concat(lit(s"$salt:"), id.cast("string"))), 1, 8)

  /** Uniform deterministic sample: keep ~`fraction` of rows. */
  def deterministicSample(df: DataFrame, idCol: String, fraction: Double, salt: String = "sample"): DataFrame =
    df.where(sampleHash(col(idCol), salt) < lit(threshold(fraction)))

  /** Deterministic resampling WITH REPLACEMENT: each row is emitted
    * `floor(weight)` times, plus once more with probability
    * `frac(weight)` — decided by the same md5 hash, so reruns and the
    * DuckDB oracle draw identical copies. This is the temperature-/
    * mixture-weighting op of training pipelines (up-sample rare languages
    * at weight > 1, down-sample dominant ones at weight < 1); the emitted
    * `copy` index (0-based) keeps resampled rows distinct downstream.
    * Map-side only: a generator over a literal-bounded sequence, no
    * shuffle, and expected output = Σ weight(stratum)·|stratum| exactly.
    */
  def resampleByWeight(
      df: DataFrame,
      stratumCol: String,
      idCol: String,
      weights: Map[String, Double],
      defaultWeight: Double = 1.0,
      salt: String = "resample"): DataFrame = {
    require((weights.values ++ Seq(defaultWeight)).forall(_ >= 0.0), "weights must be >= 0")
    val w = weights.foldLeft(lit(defaultWeight)) { case (acc, (k, v)) =>
      when(col(stratumCol) === lit(k), lit(v)).otherwise(acc)
    }
    val copies = floor(w).cast("long") +
      when(sampleHash(col(idCol), salt) < (w - floor(w)) * 4294967296.0, 1L).otherwise(0L)
    df.withColumn("__n", copies)
      .where(col("__n") > 0)
      // explode_outer: the sequence is never empty after the filter, and
      // plain explode would re-evaluate the copy-count expression inside a
      // pushed-down size()>0 filter (InferFiltersFromGenerate)
      .withColumn("copy", explode_outer(sequence(lit(0L), col("__n") - 1)))
      .drop("__n")
  }

  /** Per-group document cap: keep at most `cap` rows per value of
    * `groupCol`, selected in deterministic md5 order — the per-domain cap
    * every crawl-curation pipeline applies so a single spam host can't
    * dominate the corpus (C4 and friends cap pages per domain exactly like
    * this). Returns (groupCol, idCol, rk) with rk the 52-bit selection rank.
    *
    * Scale design: the naive `row_number() OVER (PARTITION BY domain)` puts
    * an entire domain's rows through ONE task — the hot domain is precisely
    * the one being capped, so that plan is worst on the rows that matter.
    * Here selection reuses the bounded [[graft.plans.CosTopK]] partial
    * top-k: map-side buffers hold ≤ cap entries per (group × partition)
    * BEFORE the exchange, so the shuffle moves ≤ cap·|groups|·partitions
    * tiny structs no matter how skewed the group sizes are. The rank is the
    * first 13 md5 hex chars of the id (52 bits — exact in the aggregate's
    * DOUBLE sort key; negated because CosTopK keeps largest-first), a pure
    * function of the row id, so reruns and the DuckDB oracle select the
    * identical rows.
    */
  def perGroupCap(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      cap: Int,
      salt: String = "cap"): DataFrame = {
    require(cap > 0, s"cap ($cap) must be positive")
    import org.apache.spark.sql.GraftBridge
    val rk = graft.functions.HexSlice.u(md5(concat(lit(s"$salt:"), col(idCol).cast("string"))), 1, 13)
    val topk = GraftBridge.column(
      graft.plans.CosTopK(
        GraftBridge.expression(-col("__rk").cast("double")),
        GraftBridge.expression(col(idCol).cast("bigint")),
        GraftBridge.expression(col("__rk").cast("double")),
        cap).toAggregateExpression())
    df.select(col(groupCol), col(idCol), rk.as("__rk"))
      .groupBy(col(groupCol))
      .agg(topk.as("__top"))
      .select(col(groupCol), explode(col("__top")).as("__e"))
      .select(col(groupCol), col("__e.id").as(idCol), col("__e.cos").cast("long").as("rk"))
  }

  /** Token-BUDGET sampling per group: keep documents in deterministic
    * md5-hash order until each group's cumulative token count reaches
    * `budget` (the doc crossing the boundary is kept — same rule as
    * [[graft.operators.Packing.packByOffset]]'s pack boundary). This is
    * the "sample N tokens per language/source" curation step — corpus
    * mixes are specified in TOKENS, not documents, and a doc-count cap
    * ([[perGroupCap]]) over-serves groups with long documents.
    *
    * Scale design: the running sum per group runs in the TWO-PASS CHUNKED
    * prefix form, but chunked on the HASH PREFIX (`rk >> 40`, 4096
    * chunks) since the selection order is hash order, not id order — the
    * hash is uniform, so chunk occupancy is corpus/4096 regardless of
    * group skew; per-(group, chunk) subtotals roll into chunk bases over
    * metadata rows and the local window is bounded. Kept rows are a pure
    * function of (salt, id, budget): reruns and the oracle select
    * identically.
    *
    * Returns (groupCol, idCol, n_tok, rk) for kept docs.
    *
    * Token counts default to the whitespace proxy over `textCol`; pass
    * `countCol` to spend the budget in REAL tokenizer counts (e.g.
    * [[graft.functions.TextAnalysis.bpeEncodeDocs]]'s `n_pieces`) — with
    * `countCol` set, `textCol` is never touched.
    */
  def tokenBudgetSample(
      docs: DataFrame,
      groupCol: String,
      budget: Long,
      idCol: String = "doc_id",
      textCol: String = "text",
      salt: String = "tb",
      countCol: Option[String] = None): DataFrame = {
    require(budget > 0, s"budget ($budget) must be positive")
    val rk = graft.functions.HexSlice.u(md5(concat(lit(s"$salt:"), col(idCol).cast("string"))), 1, 13)
    val nTok = countCol
      .map(c => col(c).cast("bigint"))
      .getOrElse(size(split(col(textCol), "\\s+")).cast("bigint"))
    val withTok = docs
      .select(col(groupCol), col(idCol), nTok.as("n_tok"))
      .withColumn("__rk", rk)
      .withColumn("__chunk", shiftright(col("__rk"), 40).cast("int"))
    val wChunks = Window.partitionBy(col(groupCol)).orderBy(col("__chunk"))
    val bases = withTok
      .groupBy(col(groupCol), col("__chunk"))
      .agg(sum(col("n_tok")).as("__ct"))
      .withColumn("__base", sum(col("__ct")).over(wChunks) - col("__ct"))
      .select(col(groupCol), col("__chunk"), col("__base"))
    val wLocal = Window.partitionBy(col(groupCol), col("__chunk"))
      .orderBy(col("__rk"), col(idCol))
    withTok
      .join(broadcast(bases), Seq(groupCol, "__chunk"))
      .withColumn("__cum_before",
        col("__base") + sum(col("n_tok")).over(wLocal) - col("n_tok"))
      .where(col("__cum_before") < budget)
      .select(col(groupCol), col(idCol), col("n_tok"), col("__rk").as("rk"))
  }

  /** Deterministic MIXTURE INTERLEAVE — the loader-order counterpart of
    * [[CorpusClean.mixtureSample]]/[[temperatureMixture]]: those decide
    * HOW MUCH of each source to train on; this decides the ORDER, as a
    * stride schedule (lottery/stride scheduling): source g's i-th
    * document (in deterministic md5 order) is scheduled at key
    * (i + φ_g) / w_g, and the global training order is ascending key.
    * Any prefix of the schedule then contains each source in proportion
    * to its weight to within one document per source — smooth
    * interleaving, not front-loaded blocks — and the whole schedule is a
    * pure function of (salt, ids), so reruns, resumes, and the oracle
    * replay it exactly. φ_g is a per-source md5 phase so equal-weight
    * sources don't tick in lockstep.
    *
    * Scale shape: the per-source rank uses the two-pass chunked-prefix
    * form ([[tokenBudgetSample]]'s discipline — top hash bits chunk each
    * source, per-(source, chunk) bases broadcast back, the rank window
    * only ever sorts one chunk), so no source-sized window partition
    * exists; the schedule key is then map-side arithmetic. Consumers
    * take prefixes with orderBy(key).limit(n) = TakeOrderedAndProject.
    *
    * Returns (groupCol, idCol, rank_in_group, sched_key 6 dp).
    */
  def mixtureInterleave(
      docs: DataFrame,
      groupCol: String,
      weights: Map[String, Double],
      defaultWeight: Double = 1.0,
      idCol: String = "doc_id",
      salt: String = "mix"): DataFrame = {
    require((weights.values ++ Seq(defaultWeight)).forall(_ > 0.0), "weights must be > 0")
    val rk = graft.functions.HexSlice.u(md5(concat(lit(s"$salt:"), col(idCol).cast("string"))), 1, 13)
    val base = docs
      .select(col(groupCol), col(idCol))
      .withColumn("__rk", rk)
      .withColumn("__chunk", shiftright(col("__rk"), 40).cast("int"))
    val wChunks = Window.partitionBy(col(groupCol)).orderBy(col("__chunk"))
    val bases = base
      .groupBy(col(groupCol), col("__chunk"))
      .agg(count(lit(1)).as("__cn"))
      .withColumn("__base", sum(col("__cn")).over(wChunks) - col("__cn"))
      .select(col(groupCol), col("__chunk"), col("__base"))
    val wLocal = Window.partitionBy(col(groupCol), col("__chunk"))
      .orderBy(col("__rk"), col(idCol))
    val w = weights.foldLeft(lit(defaultWeight)) { case (acc, (k, v)) =>
      when(col(groupCol) === lit(k), lit(v)).otherwise(acc)
    }
    val phi = graft.functions.Portable.pround(
      graft.functions.HexSlice.u(md5(concat(lit(s"$salt-phi:"), col(groupCol))), 1, 13)
        .cast("double") / lit(4503599627370496.0), 6)
    base
      .join(broadcast(bases), Seq(groupCol, "__chunk"))
      .withColumn("__rank", col("__base") + row_number().over(wLocal) - 1)
      .select(
        col(groupCol), col(idCol),
        col("__rank").as("rank_in_group"),
        graft.functions.Portable.pround(
          (col("__rank").cast("double") + phi) / w, 6).as("sched_key"))
  }

  /** Deterministic train/validation/test split: each row lands in exactly
    * one named split, decided by its id's md5 against cumulative
    * fraction thresholds — a pure map-side CASE, no shuffle, no RNG
    * state. The split assignment is a function of (salt, id) alone, so
    * it is STABLE under corpus growth: adding documents never moves an
    * existing document between splits (the leakage bug per-partition RNG
    * splits have), and every engine — including the DuckDB oracle —
    * assigns identically.
    */
  def hashSplit(
      df: DataFrame,
      idCol: String,
      splits: Seq[(String, Double)],
      salt: String = "split"): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 >= 0), "split fractions must be >= 0")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9, "split fractions must sum to 1")
    val h = sampleHash(col(idCol), salt)
    val cum = splits.scanLeft(0.0)(_ + _._2).tail
    val assigned = splits.init.zip(cum.init).foldRight(lit(splits.last._1)) {
      case (((name, _), c), acc) => when(h < lit(threshold(c)), lit(name)).otherwise(acc)
    }
    df.withColumn("split", assigned)
  }

  /** Deterministic EPOCH-SHUFFLE SHARDING — the global reshuffle a
    * multi-epoch pretraining run performs between passes over the corpus.
    * A data loader needs every epoch to visit the corpus in a different,
    * globally-shuffled, REPRODUCIBLE order, split into `nShards` loader
    * shards; at 100 TB no materialized permutation exists, so the standard
    * trick is order-by-hash: each (epoch, doc) draws the md5 of
    * "salt:epoch:id", the shard is that hash mod nShards, and the order
    * WITHIN a shard is ascending hash (id-ASC tie-break). Pure function of
    * (salt, epoch, id): reruns, resumes, task retries, and the DuckDB
    * oracle produce the identical schedule, epochs are pairwise
    * uncorrelated, and shard sizes concentrate at n/nShards (binomial).
    *
    * Plan shape: the epoch expansion is a map-side generator; the only
    * shuffle is the (epoch, shard)-keyed exchange a loader needs anyway,
    * and the in-shard sort runs per shard partition — never a global sort.
    * The row_number window partitions by (epoch, shard): bounded KEY
    * cardinality, data-sized partitions — exactly the per-shard sort a
    * real loader materializes (the same class as packing's per-chunk
    * windows).
    *
    * Returns the input columns plus (epoch, shard, seq, order_key):
    * `seq` is the 1-based position of the row in its loader shard.
    */
  def epochShards(
      df: DataFrame,
      idCol: String,
      epochs: Int,
      nShards: Int,
      salt: String = "epoch"): DataFrame = {
    require(epochs >= 1, s"epochs ($epochs) must be >= 1")
    require(nShards >= 1, s"nShards ($nShards) must be >= 1")
    df
      .withColumn("epoch", explode(sequence(lit(0), lit(epochs - 1))))
      .withColumn("order_key",
        md5(concat(lit(s"$salt:"), col("epoch").cast("string"), lit(":"), col(idCol).cast("string"))))
      .withColumn("shard",
        pmod(graft.functions.HexSlice.u(col("order_key"), 1, 15), lit(nShards.toLong)))
      .withColumn("seq",
        row_number().over(Window.partitionBy(col("epoch"), col("shard"))
          .orderBy(col("order_key"), col(idCol))))
  }

  /** Deterministic weighted sampling WITHOUT replacement (Efraimidis–
    * Spirakis A-ES): each row draws u from its id's md5 (52 bits, in
    * (0, 1]), gets key ln(u)/w — order-equivalent to the classic u^(1/w),
    * one less libm call — and the k LARGEST keys win. P(row sampled) is
    * proportional-to-weight without replacement, yet the draw is a pure
    * function of (salt, id): reruns, resumes, and the DuckDB oracle
    * select the identical k rows.
    *
    * Keys are rounded to 12 dp (far above last-ulp ln() divergence, far
    * below key spacing) with id-ASC tie-break, so cross-engine selection
    * can't flip at boundaries. The global top-k is TakeOrderedAndProject
    * — per-partition partial top-k, k-row merge, no full sort, no single
    * giant partition. Per-stratum form: compose with [[perGroupCap]]'s
    * bounded top-k aggregate on the same key.
    */
  def weightedSample(
      df: DataFrame,
      idCol: String,
      weightCol: String,
      k: Int,
      salt: String = "wsample"): DataFrame = {
    require(k > 0, s"k ($k) must be positive")
    val h = graft.functions.HexSlice.u(md5(concat(lit(s"$salt:"), col(idCol).cast("string"))), 1, 13)
    val u = (h + 1).cast("double") / lit(4503599627370496.0) // 2^52 → u ∈ (0, 1]
    df.where(col(weightCol) > 0)
      .withColumn("rk",
        graft.functions.Portable.pround(log(u) / col(weightCol).cast("double"), 12))
      .orderBy(desc("rk"), col(idCol))
      .limit(k)
  }

  /** Gumbel top-k: sample k rows WITHOUT replacement with probability
    * ∝ exp(logWeightCol), entirely in log space — the selection half of
    * importance resampling ([[graft.functions.TextAnalysis.importanceWeights]]
    * produces the log weights; exponentiating them would overflow for any
    * realistically-sized document). The Gumbel-max trick: add an
    * independent Gumbel(0,1) draw g = −ln(−ln u) to each log weight and
    * take the top k of (logw + g) — distributionally identical to
    * weighted sampling without replacement, and with u drawn from the
    * deterministic md5 hash the selection is rerun-/resume-/oracle-stable
    * ([[weightedSample]]'s A-ES discipline, moved to log space).
    *
    * Scale shape: map-side key computation + global top-k — Catalyst
    * plans `orderBy(...).limit(k)` as TakeOrderedAndProject (per-partition
    * bounded heaps, never a full sort). Key rounded 12 dp before ranking
    * so tie-breaks (then id ASC) are cross-engine identical.
    */
  def gumbelTopK(
      df: DataFrame,
      idCol: String,
      logWeightCol: String,
      k: Int,
      salt: String = "gumbel"): DataFrame = {
    require(k > 0, s"k ($k) must be positive")
    val h = graft.functions.HexSlice.u(md5(concat(lit(s"$salt:"), col(idCol).cast("string"))), 1, 13)
    // u ∈ (0, 1) OPEN on both ends: u = 1 would send −ln(−ln u) to +∞
    val u = (h.cast("double") + 0.5) / lit(4503599627370496.0) // 2^52
    df.withColumn("gk",
      graft.functions.Portable.pround(
        col(logWeightCol).cast("double") - log(-log(u)), 9))
      .orderBy(desc("gk"), col(idCol))
      .limit(k)
  }

  /** Stratified deterministic sample: a different keep-fraction per value
    * of `stratumCol` (e.g. up-sample rare languages, down-sample dominant
    * ones). Strata absent from `fractions` fall back to `defaultFraction`.
    * Still a pure map-side filter — the per-stratum thresholds compile to
    * one CASE expression, no join, no shuffle.
    */
  def stratifiedSample(
      df: DataFrame,
      stratumCol: String,
      idCol: String,
      fractions: Map[String, Double],
      defaultFraction: Double = 0.0,
      salt: String = "sample"): DataFrame = {
    val thr = fractions.foldLeft(lit(threshold(defaultFraction))) { case (acc, (k, f)) =>
      when(col(stratumCol) === lit(k), lit(threshold(f))).otherwise(acc)
    }
    df.where(sampleHash(col(idCol), salt) < thr)
  }

  /** Temperature-scaled mixture plan: allocate a document budget across
    * groups proportional to sizeᵅ — the standard multilingual/multi-source
    * rebalancing (α = 1 keeps natural proportions, α → 0 approaches
    * uniform; LM data recipes run α ≈ 0.3–0.7 to lift low-resource
    * groups without drowning the head). Integer targets come from the
    * largest-remainder method, so they sum EXACTLY to the budget — the
    * property the downstream sampler ([[perGroupCap]] /
    * [[stratifiedSample]] with per-group fractions) relies on.
    *
    * Shape: one partial-aggregated groupBy to group sizes; Σ sizeᵅ rides
    * a broadcast scalar; the largest-remainder rank is a window over the
    * GROUP-COUNT-sized relation (sources, not rows). The ideal
    * allocation is QUANTIZED to 6 dp BEFORE the floor: Σ sizeᵅ is a
    * float sum whose order varies run to run, and an ideal landing on an
    * exact integer (equal-size groups do this every time) would
    * otherwise floor to n−1 or n depending on the last ulp — observed
    * flaky before the quantization. The remainder rank orders by the
    * quantized fractional part (then group ASC) for the same reason.
    *
    * Returns (group, n_docs, share_r, target_docs), Σ target = budget.
    */
  def temperatureMixture(
      df: DataFrame,
      groupCol: String,
      alpha: Double,
      budget: Long): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha ($alpha) must be in (0, 1]")
    require(budget > 0, s"budget ($budget) must be positive")
    val sizes = df.groupBy(col(groupCol)).agg(count(lit(1)).as("n_docs"))
      .withColumn("__w", pow(col("n_docs").cast("double"), alpha))
    val tot = sizes.agg(sum(col("__w")).as("__tw"), count(lit(1)).as("__ng"))
    val scored = sizes
      .crossJoin(broadcast(tot))
      .withColumn("__share", col("__w") / col("__tw"))
      .withColumn("__ideal",
        graft.functions.Portable.pround(col("__share") * budget, 6))
      .withColumn("__base", floor(col("__ideal")))
      .withColumn("__fr9", col("__ideal") - col("__base"))
    val rem = scored.agg((lit(budget) - sum(col("__base"))).as("__rem"))
    val w = Window.orderBy(desc("__fr9"), asc(groupCol))
    scored
      .crossJoin(broadcast(rem))
      .withColumn("__rk", row_number().over(w))
      .select(
        col(groupCol),
        col("n_docs"),
        graft.functions.Portable.pround(col("__share"), 6).as("share_r"),
        (col("__base") + when(col("__rk") <= col("__rem"), 1L).otherwise(0L))
          .cast("long").as("target_docs"))
  }

  /** Neyman allocation for stratified sampling (Neyman, JRSS 1934 — the
    * optimal-variance design every survey/eval-sampling pipeline uses):
    * split a sample budget across strata ∝ N_h·S_h, so volatile strata
    * get more of the budget and near-constant strata almost none —
    * minimizing the stratified mean's variance at fixed cost. The
    * design-time complement of [[temperatureMixture]] (which allocates
    * by SIZE alone) and the input [[sampleStratified]]-style draws
    * consume: "how many from each stratum" decided by the data's own
    * spread, not assumed.
    *
    * Parity discipline: per-stratum S_h from EXACT decimal (Σx, Σx²)
    * sums (sample variance, n ≥ 2); the weight N_h·S_h floors to a
    * 1e6-scaled LONG so the total weight is an exact integer sum (a
    * handful of strata would make a double Σw partial-agg-order
    * exposed); shares/ideals derive from those integers, and the
    * largest-remainder integerization is [[temperatureMixture]]'s
    * verbatim (6-dp-quantized ideal before the floor, remainder rank
    * with a stratum tiebreak) — so Σ alloc == budget EXACTLY and the
    * whole table replays. Zero-variance / singleton strata carry weight
    * 0 and can receive only remainder units. Degenerate corpus (EVERY
    * stratum zero-weight, Σw == 0 — all-constant or all-singleton
    * strata): shares fall back to proportional-by-n_rows so the
    * Σ alloc == budget guarantee still holds (the naive "shares all 0"
    * reading would hand out only min(budget, #strata) remainder units).
    * All work after the one stats pass is strata-sized metadata.
    *
    * Returns (stratum, n_rows, sd_r, share_r, ideal_r, alloc).
    */
  def neymanAllocation(
      df: DataFrame,
      stratumCol: String,
      valueCol: String,
      budget: Long): DataFrame = {
    require(budget > 0, s"budget ($budget) must be positive")
    import graft.functions.Portable
    val per = df
      .select(col(stratumCol).as("__g"), col(valueCol).cast("long").as("__x"))
      .where(col("__g").isNotNull && col("__x").isNotNull)
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("__x").cast("decimal(38,0)")).as("__s1"),
        sum(col("__x").cast("decimal(19,0)") * col("__x").cast("decimal(19,0)"))
          .cast("decimal(38,0)").as("__s2"))
    val nD = col("n_rows").cast("double")
    val sd = when(col("n_rows") >= 2,
      sqrt(greatest(lit(0.0),
        (col("__s2").cast("double")
          - col("__s1").cast("double") * col("__s1").cast("double") / nD)
          / (nD - lit(1.0))))).otherwise(lit(0.0))
    val scored0 = per
      .withColumn("__w6", floor(nD * sd * 1e6 + lit(0.5)).cast("long"))
    val tot = scored0.agg(sum(col("__w6")).as("__tw6"), sum(col("n_rows")).as("__tn"))
    val scored = scored0
      .crossJoin(broadcast(tot))
      .withColumn("__share",
        when(col("__tw6") > 0L,
          col("__w6").cast("double") / col("__tw6").cast("double"))
          .otherwise(col("n_rows").cast("double") / col("__tn").cast("double")))
      .withColumn("__ideal", Portable.pround(col("__share") * budget, 6))
      .withColumn("__base", floor(col("__ideal")))
      .withColumn("__fr", col("__ideal") - col("__base"))
    val rem = scored.agg((lit(budget) - sum(col("__base"))).as("__rem"))
    val w = Window.orderBy(desc("__fr"), asc("__g"))
    scored
      .crossJoin(broadcast(rem))
      .withColumn("__rk", row_number().over(w))
      .select(
        col("__g").as(stratumCol),
        col("n_rows"),
        Portable.pround(sd, 4).as("sd_r"),
        Portable.pround(col("__share"), 6).as("share_r"),
        col("__ideal").as("ideal_r"),
        (col("__base") + when(col("__rk") <= col("__rem"), 1L).otherwise(0L))
          .cast("long").as("alloc"))
  }

  /** DoReMi-style domain mixture reweighting (Xie et al. 2023,
    * "DoReMi: Optimizing Data Mixtures Speeds Up Language Model
    * Pretraining"): upweight the domains a SHARED model underserves
    * relative to what a domain-specialist could achieve. DoReMi's
    * Group-DRO proxy run chases each domain's EXCESS loss — proxy loss
    * minus per-domain reference loss — with multiplicative weights; for
    * a unigram proxy LM that signal has a closed form: the gap between
    * the domain's cross-entropy under the corpus-MIXTURE LM and under
    * its OWN domain LM (both add-one smoothed over the shared
    * vocabulary). With the proxy fixed, the multiplicative-weights
    * fixpoint is one step: α_d ∝ exp(η·excess_d), then smoothed toward
    * uniform by `uniformSmooth` (the paper's (1−c)·α + c·u step, which
    * keeps every domain sampled). The third member of the mixture-design
    * family — [[temperatureMixture]] allocates by SIZE, [[neymanAllocation]]
    * by VARIANCE, this by model-loss HEADROOM.
    *
    * Determinism: all LM quantities are exact integer counts; each
    * domain's two cross-entropies round at 6 dp before the subtraction,
    * exp(η·excess) quantizes straight to micro ints (the q_logreg_train
    * discipline) so the normalizing sum is exact, and the final α
    * derives from one division of identical integers.
    *
    * Scale shape: the corpus reduces ONCE to the (domain, word) count
    * relation — the only corpus-sized shuffle; the word-marginal,
    * domain-total, and vocabulary aggregates all fold off it
    * (vocabulary-sized), the cross-entropy join is vocabulary-sized, and
    * everything after is domain-count-sized metadata.
    *
    * Returns (domainCol, n_tok, own_ce_r, mix_ce_r, excess_r, alpha_r);
    * Σ alpha_r ≈ 1 at 6 dp.
    */
  def doremiWeights(
      docs: DataFrame,
      domainCol: String = "lang",
      textCol: String = "text",
      eta: Double = 1.0,
      uniformSmooth: Double = 0.2): DataFrame = {
    require(eta > 0.0, s"eta ($eta) must be positive")
    require(uniformSmooth >= 0.0 && uniformSmooth < 1.0,
      s"uniformSmooth ($uniformSmooth) must be in [0, 1)")
    val toks = docs.select(col(domainCol).as("__d"),
      explode(Tokenize.tokenArray(col(textCol))).as("__w"))
    val cdw = toks.groupBy(col("__d"), col("__w"))
      .agg(count(lit(1)).as("__c"))
      .pin()
    val cw = cdw.groupBy(col("__w")).agg(sum(col("__c")).as("__cw"))
    val td = cdw.groupBy(col("__d")).agg(sum(col("__c")).as("__totd"))
    val vt = cw.agg(count(lit(1)).as("__vs"), sum(col("__cw")).as("__tot"))
    val ce = cdw
      .join(cw, Seq("__w"))
      .join(td, Seq("__d"))
      .crossJoin(broadcast(vt))
      .groupBy(col("__d"))
      .agg(
        max(col("__totd")).as("__totd"),
        sum(col("__c").cast("double")
          * log((col("__c") + 1L).cast("double")
            / (col("__totd") + col("__vs")).cast("double"))).as("__sown"),
        sum(col("__c").cast("double")
          * log((col("__cw") + 1L).cast("double")
            / (col("__tot") + col("__vs")).cast("double"))).as("__smix"))
      .select(col("__d"), col("__totd"),
        graft.functions.Portable.pround(-(col("__sown") / col("__totd")), 6).as("own_ce_r"),
        graft.functions.Portable.pround(-(col("__smix") / col("__totd")), 6).as("mix_ce_r"))
      .withColumn("excess_r",
        graft.functions.Portable.pround(col("mix_ce_r") - col("own_ce_r"), 6))
      .withColumn("__em",
        floor(exp(lit(eta) * col("excess_r")) * lit(1e6) + lit(0.5)).cast("long"))
    val s = ce.agg(sum(col("__em")).as("__S"), count(lit(1)).as("__ng"))
    ce.crossJoin(broadcast(s))
      .select(col("__d").as(domainCol), col("__totd").as("n_tok"),
        col("own_ce_r"), col("mix_ce_r"), col("excess_r"),
        graft.functions.Portable.pround(
          lit(1.0 - uniformSmooth)
            * (col("__em").cast("double") / col("__S").cast("double"))
            + lit(uniformSmooth) / col("__ng").cast("double"), 6).as("alpha_r"))
  }
}
