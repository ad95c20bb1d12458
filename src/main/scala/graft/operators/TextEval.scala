package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Materialize.Pinned
import graft.functions.Portable

/** Text-generation overlap metrics — BLEU and ROUGE, the n-gram
  * reference-comparison standards every LLM eval harness reports
  * (BLEU: Papineni et al., ACL 2002; ROUGE: Lin, WAS 2004). The existing
  * Eval family grades RANKERS and CLASSIFIERS (AUC, nDCG, ECE, kappa);
  * these grade generated TEXT against references — the metric a
  * fine-tuning pipeline reads off its eval split every epoch.
  *
  * Both operators take a PAIRED relation (one row per (id, candidate
  * text, reference text)) and tokenize with the engine's CleanToken
  * discipline, so the metrics sit on the same token stream as every
  * other text operator.
  *
  * Scale shape: n-gram counts are partial-agg `groupBy(id, n, gram)`
  * counts; clipping is one equi-join of the candidate and reference
  * count relations on (id, n, gram) — co-partitioned, no window, no
  * cross join, no driver state; totals come straight off token lengths
  * (no explode). BLEU reduces to ONE corpus row, ROUGE stays per-pair.
  * All ratios are integer-derived and rounded 6 dp (cross-engine exact);
  * the only transcendentals are BLEU's final exp/ln on already-rounded
  * scalars, floor-rounded before output.
  */
object TextEval {

  /** Exact n-gram enumeration for overlap metrics: all `size-n+1` grams
    * when the token array holds at least n tokens, EMPTY otherwise — the
    * BLEU/ROUGE convention (unlike [[graft.functions.TextAnalysis
    * .rawShinglesFromToks]], a short text contributes NO n-grams, not a
    * single truncated one).
    */
  private def gramsOf(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** (id, n, gram, cnt) counts for n in 1..maxN over a tokenized column —
    * the shared front half of both metrics.
    */
  private def gramCounts(
      df: DataFrame, idCol: String, toksCol: String, maxN: Int): DataFrame =
    (1 to maxN)
      .map { n =>
        df.select(col(idCol), lit(n).as("__n"),
          explode(gramsOf(col(toksCol), n)).as("__g"))
      }
      .reduce(_ unionAll _)
      .groupBy(col(idCol), col("__n"), col("__g"))
      .agg(count(lit(1)).as("__c"))

  /** Corpus-level BLEU-maxN (Papineni et al. 2002): modified n-gram
    * precisions p_n = Σ_pairs clipped matches / Σ_pairs candidate grams
    * (clipping: each candidate n-gram counts at most its reference
    * frequency), geometric mean over n = 1..maxN, times the brevity
    * penalty BP = min(1, e^(1−r/c)) on corpus token lengths. The corpus
    * (not sentence) form is the original metric and needs no smoothing:
    * a zero matched count at any order reads BLEU 0 exactly (mirrored, no
    * ln(0) is ever evaluated — the ln/exp run behind a guard on the
    * already-rounded precisions).
    *
    * Input: one row per (idCol, candCol text, refCol text). Output ONE
    * row: (c_len, r_len, bp_r, p1_r..p{maxN}_r, bleu_r).
    */
  def bleuCorpus(
      pairs: DataFrame,
      candCol: String,
      refCol: String,
      idCol: String,
      maxN: Int = 4): DataFrame = {
    require(maxN >= 1 && maxN <= 8, s"maxN ($maxN) must be in [1, 8]")
    // r20 optimization (guide §2.4): the tokenized pair relation feeds
    // 2·maxN gram-count branches + the totals/lens aggregates — each lazy
    // reference re-ran the pair join AND both tokenizations (the before
    // plan carried 40 Exchanges, ~13 executions of the join+tokenize
    // subtree). Spread first (identity on wide inputs) so the tokenize
    // runs parallel on narrow bench scans, then materialize ONCE.
    val toks = graft.functions.Spread(pairs, col(idCol)).select(
      col(idCol).as("__id"),
      Tokenize.tokenArray(col(candCol)).as("__ct"),
      Tokenize.tokenArray(col(refCol)).as("__rt"))
      .pin()
    val cg = gramCounts(toks.select(col("__id"), col("__ct").as("__t")), "__id", "__t", maxN)
    val rg = gramCounts(toks.select(col("__id"), col("__rt").as("__t")), "__id", "__t", maxN)
    // clipped matches: inner join suffices — a candidate gram absent from
    // the reference clips to 0 and contributes nothing
    val matched = cg
      .join(rg.withColumnRenamed("__c", "__rc"), Seq("__id", "__n", "__g"))
      .groupBy(col("__n"))
      .agg(sum(least(col("__c"), col("__rc"))).as("__m"))
    // candidate gram totals per order, straight off token lengths
    val totals = (1 to maxN)
      .map(n => toks.select(lit(n).as("__n"),
        greatest(size(col("__ct")) - (n - 1), lit(0)).cast("long").as("__t")))
      .reduce(_ unionAll _)
      .groupBy(col("__n")).agg(sum(col("__t")).as("__tot"))
    val perN = totals
      .join(matched, Seq("__n"), "left_outer")
      .na.fill(0L, Seq("__m"))
      .select(col("__n"),
        Portable.pround(
          when(col("__tot") > 0L, col("__m").cast("double") / col("__tot").cast("double"))
            .otherwise(lit(0.0)), 6).as("__p"))
    // maxN rows -> maxN scalar columns via conditional max (metadata-sized)
    def pOf(n: Int) = max(when(col("__n") === n, col("__p"))).as(s"p${n}_r")
    val pn = perN.agg(pOf(1), (2 to maxN).map(pOf): _*)
    val lens = toks.agg(
      sum(size(col("__ct")).cast("long")).as("c_len"),
      sum(size(col("__rt")).cast("long")).as("r_len"))
    val pCols = (1 to maxN).map(n => col(s"p${n}_r"))
    val anyZero = pCols.map(_ <= lit(0.0)).reduce(_ || _)
    lens.crossJoin(pn)
      .withColumn("bp_r", Portable.pround(
        when(col("c_len") >= col("r_len") || col("c_len") === 0L, lit(1.0))
          .otherwise(exp(lit(1.0) - col("r_len").cast("double") / col("c_len").cast("double"))),
        6))
      .withColumn("bleu_r", Portable.pround(
        when(anyZero || col("c_len") === 0L, lit(0.0))
          .otherwise(col("bp_r") *
            exp(pCols.map(p => log(p)).reduce(_ + _) / lit(maxN.toDouble))), 6))
      .select(col("c_len") +: col("r_len") +: col("bp_r") +: pCols :+ col("bleu_r"): _*)
  }

  /** Per-pair ROUGE-1 and ROUGE-2 (Lin 2004): n-gram recall
    * r_n = clipped matches / reference grams, precision
    * p_n = clipped / candidate grams, F1 = 2pr/(p+r) — the
    * summarization-eval standard (recall-oriented where BLEU is
    * precision-oriented). Clipping matches BLEU's: each gram contributes
    * min(candidate count, reference count).
    *
    * Output one row per pair: (idCol, rouge1_p, rouge1_r, rouge1_f,
    * rouge2_p, rouge2_r, rouge2_f), every ratio 6-dp rounded, 0.0 when
    * the denominator is empty (no NULL/NaN divergence cross-engine).
    */
  def rouge12(
      pairs: DataFrame,
      candCol: String,
      refCol: String,
      idCol: String): DataFrame = {
    // r20: same materialize-once reshape as [[bleuCorpus]] (the before
    // plan re-ran the pair join + both tokenizations per gram branch)
    val toks = graft.functions.Spread(pairs, col(idCol)).select(
      col(idCol).as("__id"),
      Tokenize.tokenArray(col(candCol)).as("__ct"),
      Tokenize.tokenArray(col(refCol)).as("__rt"))
      .pin()
    val cg = gramCounts(toks.select(col("__id"), col("__ct").as("__t")), "__id", "__t", 2)
    val rg = gramCounts(toks.select(col("__id"), col("__rt").as("__t")), "__id", "__t", 2)
    val matched = cg
      .join(rg.withColumnRenamed("__c", "__rc"), Seq("__id", "__n", "__g"))
      .groupBy(col("__id"), col("__n"))
      .agg(sum(least(col("__c"), col("__rc"))).as("__m"))
    val base = toks.select(col("__id"),
      size(col("__ct")).cast("long").as("__cl"),
      size(col("__rt")).cast("long").as("__rl"))
    def ratio(num: Column, den: Column): Column =
      Portable.pround(
        when(den > 0L, num.cast("double") / den.cast("double")).otherwise(lit(0.0)), 6)
    def f1(p: Column, r: Column): Column =
      Portable.pround(
        when(p + r > 0.0, lit(2.0) * p * r / (p + r)).otherwise(lit(0.0)), 6)
    val withN = (1 to 2).map { n =>
      matched.where(col("__n") === n)
        .select(col("__id"), col("__m").as(s"__m$n"))
    }
    val joined = withN.foldLeft(base)((d, m) => d.join(m, Seq("__id"), "left_outer"))
      .na.fill(0L, Seq("__m1", "__m2"))
    val out = joined.select(
      col("__id").as(idCol),
      ratio(col("__m1"), col("__cl")).as("rouge1_p"),
      ratio(col("__m1"), col("__rl")).as("rouge1_r"),
      ratio(col("__m2"), greatest(col("__cl") - 1, lit(0L))).as("rouge2_p"),
      ratio(col("__m2"), greatest(col("__rl") - 1, lit(0L))).as("rouge2_r"))
    out.select(
      col(idCol),
      col("rouge1_p"), col("rouge1_r"),
      f1(col("rouge1_p"), col("rouge1_r")).as("rouge1_f"),
      col("rouge2_p"), col("rouge2_r"),
      f1(col("rouge2_p"), col("rouge2_r")).as("rouge2_f"))
  }
}
