package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Materialize.Pinned

/** Sequence analytics over event streams: what users DO next. The
  * empirical Markov chain over event types is the standard product-
  * analytics artifact (funnel leak detection, next-action prediction
  * baselines) and, in a training-data pipeline, the transition prior a
  * synthetic-journey generator samples from.
  */
object Journeys {

  /** Session-scoped event-type transition counts and probabilities: for
    * each ordered pair of CONSECUTIVE events by the same key within one
    * session (gap rule `gapUs`, the same sessionization the q_sessions
    * family pins), count (from_type → to_type) and normalize per
    * from_type. Transitions never cross a session boundary — "view then
    * buy tomorrow" is two journeys, not a transition.
    *
    * Scale shape: sessionization + next-event lookup are ONE window pass
    * per key (per-key partitions — bounded, millions of keys), then the
    * transition aggregate collapses to |types|² rows; the probability
    * normalization windows over that metadata-sized relation, never the
    * event stream.
    *
    * Returns (from_type, to_type, n, p) with p rounded to 4 dp.
    */
  def sessionTransitions(
      events: DataFrame,
      gapUs: Long = 1800000000L,
      keyCol: String = "user_id",
      tsCol: String = "ts_us",
      typeCol: String = "event_type",
      tieCol: String = "event_id"): DataFrame = {
    val byKey = Window.partitionBy(col(keyCol)).orderBy(asc(tsCol), asc(tieCol))
    val cum   = byKey.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val counts = events
      .withColumn("prev_us", lag(col(tsCol), 1).over(byKey))
      .withColumn("new_sess",
        when(col("prev_us").isNull || col(tsCol) - col("prev_us") > gapUs, 1).otherwise(0))
      .withColumn("sess_id", sum(col("new_sess")).over(cum))
      .withColumn("next_type", lead(col(typeCol), 1).over(byKey))
      .withColumn("next_sess", lead(col("sess_id"), 1).over(byKey))
      .where(col("next_type").isNotNull && col("next_sess") === col("sess_id"))
      .groupBy(col(typeCol).as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    counts
      .withColumn("p",
        graft.functions.Portable.pround(
          col("n").cast("double") /
            sum(col("n")).over(Window.partitionBy(col("from_type"))).cast("double"),
          4))
  }

  /** RFM segmentation (Hughes, "Strategic Database Marketing", 1994 —
    * the classic recency/frequency/monetary customer grid): per
    * customer, days since last order, order count, and exact decimal
    * spend, each scored 1..`buckets` by its QUANTILE position across
    * the customer base (recency inverted: most recent ⇒ top score).
    * The triage behind "champions / at-risk / hibernating" audience
    * cuts — and, pipeline-side, the standard user-weighting input.
    *
    * The quantile position comes from strictly-below counts over the
    * per-VALUE aggregate via the chunked-prefix discipline (the
    * [[graft.operators.Stats.spearman]] two-pass form — never a global
    * row sort; an ntile window would one-task the customer axis).
    * Scores are pure INTEGER arithmetic: score = B·below DIV n (+1),
    * so ties share a bucket and the assignment replays exactly.
    *
    * Returns (custkey, recency_days, frequency, monetary_r, r_score,
    * f_score, m_score, rfm) with rfm = 100·r + 10·f + m.
    */
  def rfmSegments(
      orders: DataFrame,
      asOf: String,
      buckets: Int = 5): DataFrame = {
    require(buckets >= 2, s"buckets ($buckets) must be >= 2")
    val per = orders
      .groupBy(col("o_custkey").as("custkey"))
      .agg(
        datediff(to_date(lit(asOf)), to_date(max(col("o_orderdate")))).cast("long")
          .as("recency_days"),
        count(lit(1)).as("frequency"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("__mon"))
      .withColumn("monetary_r", col("__mon").cast("double"))
      .drop("__mon")
      .pin() // consumed by the base row + three rank legs
    val n = broadcast(per.agg(count(lit(1)).as("__n")))
    def belowCounts(mCol: String, chunkWidth: Double): DataFrame = {
      val perValue = per.groupBy(col(mCol).as("__v")).agg(count(lit(1)).as("__c"))
        .withColumn("__chunk", floor(col("__v") / chunkWidth).cast("long"))
      val wCh = Window.orderBy(col("__chunk"))
      val bases = perValue.groupBy(col("__chunk")).agg(sum(col("__c")).as("__s"))
        .withColumn("__b", sum(col("__s")).over(wCh) - col("__s"))
        .select(col("__chunk"), col("__b"))
      val wLoc = Window.partitionBy(col("__chunk")).orderBy(col("__v"))
      perValue.join(broadcast(bases), Seq("__chunk"))
        .withColumn("__cb", col("__b") + sum(col("__c")).over(wLoc) - col("__c"))
        .select(col("__v").as(mCol), col("__cb").as(s"__cb_$mCol"))
    }
    per
      .join(belowCounts("recency_days", 64.0), Seq("recency_days"))
      .join(belowCounts("frequency", 4.0), Seq("frequency"))
      .join(belowCounts("monetary_r", 65536.0), Seq("monetary_r"))
      .crossJoin(n)
      .withColumn("r_score", lit(buckets) - expr(s"($buckets * __cb_recency_days) DIV __n"))
      .withColumn("f_score", expr(s"($buckets * __cb_frequency) DIV __n") + 1)
      .withColumn("m_score", expr(s"($buckets * __cb_monetary_r) DIV __n") + 1)
      .select(col("custkey"), col("recency_days"), col("frequency"),
        graft.functions.Portable.pround(col("monetary_r"), 2).as("monetary_r"),
        col("r_score"), col("f_score"), col("m_score"),
        (col("r_score") * 100 + col("f_score") * 10 + col("m_score")).as("rfm"))
  }

  /** Entropy rate of the session-transition chain (Shannon 1948;
    * H = −Σ_i π_i Σ_j p_ij ln p_ij): how PREDICTABLE the next step of a
    * journey is once the chain has mixed — the single-number
    * composition of [[markovStationary]] (where time is spent) and
    * [[sessionTransitions]] (what happens next from there). Low H ⇒
    * ritualized traffic (bots, scripted flows); high H ⇒ exploratory.
    *
    * Parity discipline: both factors enter ROUNDED (π at 6 dp from the
    * quantized power iteration, p at 4 dp — the derive-from-rounded-
    * pieces rule), so both engines combine identical rationals; the
    * final sum runs over the states²-bounded transition relation.
    * States with no outgoing edges contribute 0 (their row entropy is
    * an empty sum).
    *
    * Returns one row (n_states, h_rate_r) — nats per step.
    */
  def markovEntropyRate(transitions: DataFrame, iters: Int = 8): DataFrame = {
    val t0 = transitions
      .select(col("from_type"), col("to_type"), col("n").cast("long").as("n"))
      .pin() // feeds the stationary loop AND the row entropies
    val pi = markovStationary(t0, iters)
    val rowSum = t0.groupBy(col("from_type")).agg(sum(col("n")).as("__r"))
    val hRow = t0.join(rowSum, Seq("from_type"))
      .select(col("from_type"),
        graft.functions.Portable.pround(
          col("n").cast("double") / col("__r").cast("double"), 4).as("__p"))
      .where(col("__p") > 0.0)
      .groupBy(col("from_type"))
      .agg(sum(-col("__p") * log(col("__p"))).as("__h"))
    pi
      .join(hRow, col("state") === col("from_type"), "left")
      .na.fill(0.0, Seq("__h"))
      .agg(count(lit(1)).as("n_states"),
        sum(col("pi_r") * col("__h")).as("__hr"))
      .select(col("n_states"),
        graft.functions.Portable.pround(col("__hr"), 6).as("h_rate_r"))
  }

  /** Frequent CONTIGUOUS event n-grams within sessions: the length-n
    * generalization of [[sessionTransitions]] (n=2) — which three-step
    * rituals do users actually run, the raw material for funnel design
    * and bot-pattern fingerprints. Windows stay per-user (lead-k over
    * the session-annotated stream, the same partitioned pass that
    * builds transitions); the n-gram only emits when ALL n events share
    * a session, and the count relation is (event-type)ⁿ-bounded before
    * the support filter. Contiguity is the scale contract: gap-allowed
    * subsequence mining explodes combinatorially, adjacent runs don't.
    *
    * Returns (t1..tn as g1..gn, n) with occurrences >= minSupport.
    */
  def sessionNgrams(
      events: DataFrame,
      n: Int = 3,
      minSupport: Long = 5L,
      gapUs: Long = 1800000000L,
      keyCol: String = "user_id",
      tsCol: String = "ts_us",
      typeCol: String = "event_type",
      tieCol: String = "event_id"): DataFrame = {
    require(n >= 2, s"n ($n) must be >= 2")
    val byKey = Window.partitionBy(col(keyCol)).orderBy(asc(tsCol), asc(tieCol))
    val cum   = byKey.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base = events
      .withColumn("prev_us", lag(col(tsCol), 1).over(byKey))
      .withColumn("new_sess",
        when(col("prev_us").isNull || col(tsCol) - col("prev_us") > gapUs, 1).otherwise(0))
      .withColumn("sess_id", sum(col("new_sess")).over(cum))
    val withLeads = (1 until n).foldLeft(base) { (d, k) =>
      d.withColumn(s"__t$k", lead(col(typeCol), k).over(byKey))
        .withColumn(s"__s$k", lead(col("sess_id"), k).over(byKey))
    }
    val sameSess = (1 until n)
      .map(k => col(s"__t$k").isNotNull && col(s"__s$k") === col("sess_id"))
      .reduce(_ && _)
    val gramCols = col(typeCol).as("g1") +:
      (1 until n).map(k => col(s"__t$k").as(s"g${k + 1}"))
    withLeads
      .where(sameSess)
      .groupBy(gramCols: _*)
      .agg(count(lit(1)).as("n"))
      .where(col("n") >= minSupport)
  }

  /** Stationary distribution of the session-transition Markov chain:
    * where does a long random browse actually SPEND its time — the
    * steady-state complement to [[sessionTransitions]]' one-step view
    * (a state can be a popular next-hop yet rarely dwelt in if it only
    * feeds back into rare states). Computed by fixed-iteration power
    * iteration π ← πP from uniform; states the chain never re-enters
    * decay toward 0, absorbing cliques accumulate the mass.
    *
    * Determinism = the [[Recommend.alsRank1]] quantization discipline:
    * transition probabilities AND the iterate are quantized to 6-dp
    * scaled longs, so each step's mass sums are exact decimal(38,0)
    * aggregates and the whole trajectory replays bit-identically
    * cross-engine. (The quantized rows sum to 1e6 ± a few ulps-of-1e-6;
    * the final report renormalizes — documented, deterministic.) Per
    * round: one broadcast join of the state-sized iterate against the
    * checkpointed (states²-bounded) transition relation + one
    * partial-agg sum — metadata-sized throughout.
    *
    * Input: (from_type, to_type, n) — [[sessionTransitions]] output or
    * any edge-count relation. Returns (state, pi_r), Σ pi_r ≈ 1.
    */
  def markovStationary(transitions: DataFrame, iters: Int = 8): DataFrame = {
    require(iters >= 1, s"iters ($iters) must be >= 1")
    val t0 = transitions.select(col("from_type").as("__f"), col("to_type").as("__t"),
      col("n").cast("long").as("__n"))
    val rowSum = t0.groupBy(col("__f")).agg(sum(col("__n")).as("__r"))
    val p6 = t0.join(rowSum, Seq("__f"))
      .select(col("__f"), col("__t"),
        floor(col("__n").cast("double") / col("__r").cast("double") * lit(1e6) + lit(0.5))
          .cast("long").as("__p6"))
    // r21 (guide §1/§2.4): the former per-round join + partial-agg + state
    // re-fill shape spent its whole wall time on STAGE ORCHESTRATION — 36
    // one-task stages over a states²-bounded (≤ event-type-vocabulary²)
    // relation, <1 s of executor work inside a 2.4 s wall. The chain is
    // METADATA-SIZED by declaration, so fold it into ONE ROW of arrays and
    // run the 8 rounds as whole-stage-codegen'd higher-order functions:
    // zero shuffles per round, the entire fixpoint is one projection.
    // Arithmetic is bit-identical to the relational form: the same
    // floor(Σ π6·p6 / 1e6 + 0.5) per state (integer products, sum < 2^63 —
    // Σ_f π6·p6 ≤ 1e6·1e6), states with no inbound transition read an
    // empty filter → floor(0.5) = 0, matching the old left-join fill.
    val one = p6.agg(
      sort_array(collect_list(struct(col("__f"), col("__t"), col("__p6")))).as("__P"),
      sort_array(array_distinct(concat(
        collect_list(col("__f")), collect_list(col("__t"))))).as("__S"))
    val init = one.select(col("__P"), col("__S"),
      transform(col("__S"), _ =>
        floor(lit(1e6) / size(col("__S")).cast("double") + lit(0.5)).cast("long"))
        .as("__pi"))
    val piRow = (1 to iters).foldLeft(init) { (df, i) =>
      val next = df.select(col("__P"), col("__S"),
        transform(col("__S"), t =>
          floor(
            aggregate(
              filter(col("__P"), e => e("__t") === t),
              lit(0L),
              (acc, e) => acc +
                element_at(col("__pi"), array_position(col("__S"), e("__f")).cast("int"))
                  * e("__p6"))
              .cast("double") / lit(1e6) + lit(0.5))
            .cast("long")).as("__pi"))
      // cut the ONE-ROW lineage every other round: nested higher-order
      // lambdas compound super-linearly in the analyzer/optimizer (an
      // un-cut 8-round chain hung planning outright) — each cut is a
      // single-row, single-partition job, so the eager truncation costs
      // milliseconds and keeps plan work O(1) per round
      if (i % 2 == 0 && i < iters) next.pin() else next
    }
    piRow
      .select(col("__S"), col("__pi"),
        aggregate(col("__pi"), lit(0L), (a, x) => a + x).as("__tot"))
      .select(explode(arrays_zip(col("__S"), col("__pi"))).as("__z"), col("__tot"))
      .select(col("__z.__S").as("state"),
        graft.functions.Portable.pround(
          col("__z.__pi").cast("double") / col("__tot").cast("double"), 6).as("pi_r"))
  }

  /** Pairwise association rules over baskets (market-basket analysis):
    * for every ordered item pair (a → b) co-occurring in ≥ `minPairs`
    * baskets, support / confidence / lift — the rule-mining primitive
    * behind "frequently bought together" and, in corpus curation, tag/
    * topic co-occurrence rules.
    *
    * `baskets` is (basketCol, itemCol), distinct per basket. Scale
    * shape: the within-basket pair expansion is an equi-join on the
    * basket id, bounded by basket size (itemsets are small by domain
    * construction — a basket with thousands of distinct items isn't a
    * basket); item counts and the basket total are metadata-sized and
    * broadcast back onto the pair relation. Both rule directions emit
    * from ONE undirected pair count.
    *
    * Returns (antecedent, consequent, n_pair, support, confidence,
    * lift), all ratios 4-dp portable-rounded.
    */
  def associationRules(
      baskets: DataFrame,
      basketCol: String,
      itemCol: String,
      minPairs: Long = 1L): DataFrame = {
    // materialized ONCE: the basket total, the item counts, and BOTH pair
    // sides consume this relation, and each lazy reference would re-run
    // the upstream basket derivation (join + distinct over the fact table)
    val b = baskets.select(col(basketCol).as("bk"), col(itemCol).as("item"))
      .distinct()
      .pin()
    val nB = b.agg(countDistinct(col("bk")).cast("double").as("n_baskets"))
    val singles = b.groupBy(col("item")).agg(count(lit(1)).as("n_item"))
    val pairs = b.select(col("bk"), col("item").as("a"))
      .join(b.select(col("bk"), col("item").as("b")), Seq("bk"))
      .where(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_pair"))
      .where(col("n_pair") >= minPairs)
    val directed = pairs
      .select(col("a").as("antecedent"), col("b").as("consequent"), col("n_pair"))
      .unionAll(pairs.select(col("b").as("antecedent"), col("a").as("consequent"), col("n_pair")))
    val r4 = (c: org.apache.spark.sql.Column) => graft.functions.Portable.pround(c, 4)
    directed
      .join(broadcast(singles.select(col("item").as("antecedent"), col("n_item").as("n_a"))),
        Seq("antecedent"))
      .join(broadcast(singles.select(col("item").as("consequent"), col("n_item").as("n_c"))),
        Seq("consequent"))
      .crossJoin(broadcast(nB))
      .select(
        col("antecedent"), col("consequent"), col("n_pair"),
        r4(col("n_pair") / col("n_baskets")).as("support"),
        r4(col("n_pair") / col("n_a")).as("confidence"),
        r4(col("n_pair") * col("n_baskets") / (col("n_a") * col("n_c"))).as("lift"))
  }

  /** Retention cohorts: bucket every user into the week of their FIRST
    * activity, then for each (cohort week, week offset k) count how many
    * of the cohort's users were active k weeks later — the retention
    * triangle every growth dashboard renders, and the freshness-decay
    * signal a data pipeline uses to weight recency.
    *
    * Scale shape: two user/week-keyed aggregates (first-activity, then
    * distinct activity weeks) joined on the user id, collapsed to a
    * cohort×offset matrix — metadata-sized — before the base-size join
    * computes fractions. No window over anything larger than a key's
    * own activity row set; week arithmetic is exact integer day math.
    *
    * Returns (cohort, week_offset, n_active, frac) — frac of the
    * cohort's size, 4-dp rounded; offset 0 rows have frac 1.0.
    */
  def retentionCohorts(
      events: DataFrame,
      keyCol: String = "user_id",
      tsCol: String = "ts_t"): DataFrame = {
    val weekly = events
      .select(col(keyCol).as("k"), date_trunc("WEEK", col(tsCol)).as("wk"))
      .distinct()
    val mat = weekly.pin() // cohort derivation + activity join
    val cohort = mat.groupBy(col("k")).agg(min(col("wk")).as("cohort"))
    val cells = mat
      .join(cohort, Seq("k"))
      .groupBy(col("cohort"), (datediff(col("wk"), col("cohort")) / 7).cast("int").as("week_offset"))
      .agg(countDistinct(col("k")).as("n_active"))
    val base = cells.where(col("week_offset") === 0)
      .select(col("cohort"), col("n_active").as("n0"))
    cells
      .join(broadcast(base), Seq("cohort"))
      .select(
        col("cohort"), col("week_offset"), col("n_active"),
        graft.functions.Portable.pround(
          col("n_active").cast("double") / col("n0").cast("double"), 4).as("frac"))
  }

  /** Kaplan–Meier user-lifetime survival curve WITH right-censoring — the
    * churn statistic naive "average lifetime" gets wrong: users still
    * active near the corpus end haven't churned, and dropping OR counting
    * them as churned both bias the estimate. A user's lifetime is
    * `last − first` active day; users whose last activity falls within
    * `censorDays` of the corpus end are CENSORED (they leave the at-risk
    * pool at their lifetime without contributing a churn event). The
    * estimator: S(t) = Π_{u ≤ t} (1 − d_u / n_u) over distinct observed
    * lifetimes, d = churn events at u, n = at-risk (lifetime ≥ u).
    *
    * Scale shape: one partial-agg groupBy reduces the event stream to the
    * USER relation (first/last day per key); everything after —
    * lifetime-domain counts, the reverse-cumulative at-risk pool, and the
    * ln-sum cumulative product (exp Σ ln, so the window carries a sum,
    * not a product) — runs over metadata-sized relations. The cumulative
    * windows order by lifetime over ONE unpartitioned frame of
    * |distinct lifetimes| rows (a day-domain axis, bounded by the corpus
    * time span, never by users or events).
    *
    * Returns (t_days, n_at_risk, d_churn, surv_r 6 dp) per distinct
    * observed lifetime.
    */
  def survivalCurve(
      events: DataFrame,
      censorDays: Int = 7,
      keyCol: String = "user_id",
      tsCol: String = "ts_t"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perUser = events
      .select(col(keyCol).as("k"), to_date(col(tsCol)).as("d"))
      .groupBy(col("k"))
      .agg(min(col("d")).as("first_d"), max(col("d")).as("last_d"))
    val horizon = perUser.agg(max(col("last_d")).as("end_d"))
    val lifetimes = perUser
      .crossJoin(broadcast(horizon))
      .select(
        datediff(col("last_d"), col("first_d")).as("t_days"),
        (datediff(col("end_d"), col("last_d")) >= censorDays).as("churned"))
    val byT = lifetimes
      .groupBy(col("t_days"))
      .agg(
        count(lit(1)).as("n_ending"),
        sum(when(col("churned"), 1L).otherwise(0L)).as("d_churn"))
    val wAsc = Window.orderBy(col("t_days"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byT
      // at-risk = everyone whose lifetime reaches t = total − Σ_{u<t} ending
      .withColumn("n_at_risk",
        sum(col("n_ending")).over(Window.orderBy(col("t_days"))
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)))
      .withColumn("__f",
        lit(1.0) - col("d_churn").cast("double") / col("n_at_risk").cast("double"))
      // a factor of exactly 0 (everyone at risk churns at t) zeroes the
      // curve from t on — handled by flag, not ln(0), which some engines
      // reject
      .withColumn("__zero",
        max(when(col("__f") <= 0.0, 1).otherwise(0)).over(wAsc))
      .withColumn("__lnS",
        sum(when(col("__f") > 0.0, log(col("__f"))).otherwise(lit(0.0))).over(wAsc))
      .select(
        col("t_days"), col("n_at_risk"), col("d_churn"),
        when(col("__zero") === 1, lit(0.0))
          .otherwise(graft.functions.Portable.pround(exp(col("__lnS")), 6)).as("surv_r"))
  }

  /** Two-arm LOG-RANK test over the [[survivalCurve]] lifetimes: does
    * arm 1 churn on a different schedule than arm 0 — the survival-curve
    * comparison a difference of mean lifetimes gets wrong under
    * censoring (censored users have no lifetime to average). Arms are
    * assigned by the engine's deterministic md5 draw
    * ([[Sampling.sampleHash]] parity), the hash-randomized A/B split the
    * q_hash_split family pins, so the oracle assigns identically. At
    * each distinct lifetime t with d_t churn events: observed arm-1
    * events d1_t vs expected e1_t = d_t·n1_t/n_t under the null, with
    * hypergeometric variance v_t = d_t·(n1_t/n_t)·(n0_t/n_t)·
    * (n_t−d_t)/(n_t−1); χ² = (Σ(d1_t−e1_t))²/Σv_t ~ χ²(1).
    *
    * Scale shape: identical to [[survivalCurve]] — one partial-agg
    * groupBy collapses events to the USER relation, a second to the
    * per-LIFETIME table; the reverse-cumulative at-risk windows run over
    * the day-domain axis (bounded by the corpus time span, whitelisted
    * metadata-bounded). Cross-engine parity: each per-t term is rounded
    * to 6 dp then scaled by 1e6 into decimal(38,0) EXACT sums (the
    * cupedAdjust discipline), so the Σ over event times is
    * order-independent; χ² is a fixed-order scalar over the two exact
    * sums.
    *
    * Returns ONE row (n_users, n1, n0, d1_total, e1_r, chi2_r); chi2
    * reads NULL when Σv = 0 (no comparable event times).
    */
  def logRank(
      events: DataFrame,
      censorDays: Int = 7,
      keyCol: String = "user_id",
      tsCol: String = "ts_t",
      salt: String = "arm"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perUser = events
      .select(col(keyCol).as("k"), to_date(col(tsCol)).as("d"))
      .groupBy(col("k"))
      .agg(min(col("d")).as("first_d"), max(col("d")).as("last_d"))
    val horizon = perUser.agg(max(col("last_d")).as("end_d"))
    val lifetimes = perUser
      .crossJoin(broadcast(horizon))
      .select(
        (Sampling.sampleHash(col("k"), salt) % 2).cast("int").as("arm"),
        datediff(col("last_d"), col("first_d")).as("t_days"),
        (datediff(col("end_d"), col("last_d")) >= censorDays).as("churned"))
    val byT = lifetimes
      .groupBy(col("t_days"))
      .agg(
        count(lit(1)).as("n_ending"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1_ending"),
        sum(when(col("churned"), 1L).otherwise(0L)).as("d_all"),
        sum(when(col("churned") && col("arm") === 1, 1L).otherwise(0L)).as("d1"))
    val wRev = Window.orderBy(col("t_days"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val dD  = col("d_all").cast("double")
    val nD  = col("n_at").cast("double")
    val n1D = col("n1_at").cast("double")
    // per-t doubles in the EXACT op order the oracle SQL writes textually
    val e1  = dD * n1D / nD
    val v   = dD * (n1D / nD) * ((nD - n1D) / nD) * ((nD - dD) / (nD - lit(1.0)))
    // 6-dp round then 1e6-scale into decimal(38,0): order-independent sums
    val i6 = (c: Column) => floor(c * 1e6 + lit(0.5)).cast("decimal(38,0)")
    val perT = byT
      .withColumn("n_at", sum(col("n_ending")).over(wRev))
      .withColumn("n1_at", sum(col("n1_ending")).over(wRev))
      .withColumn("__ome_i",
        when(col("d_all") > 0, i6(col("d1").cast("double") - e1)).otherwise(lit(0L).cast("decimal(38,0)")))
      .withColumn("__e1_i",
        when(col("d_all") > 0, i6(e1)).otherwise(lit(0L).cast("decimal(38,0)")))
      .withColumn("__v_i",
        when(col("d_all") > 0 && col("n_at") > 1, i6(v)).otherwise(lit(0L).cast("decimal(38,0)")))
    val soD = col("__so").cast("double") / 1e6
    val svD = col("__sv").cast("double") / 1e6
    perT
      .agg(
        sum(col("n_ending")).as("n_users"),
        sum(col("n1_ending")).as("n1"),
        sum(col("d1")).as("d1_total"),
        sum(col("__ome_i")).as("__so"),
        sum(col("__e1_i")).as("__se"),
        sum(col("__v_i")).as("__sv"))
      .select(
        col("n_users"), col("n1"), (col("n_users") - col("n1")).as("n0"),
        col("d1_total"),
        (col("__se").cast("double") / 1e6).as("e1_r"),
        graft.functions.Portable.pround(
          when(col("__sv") > 0, soD * soD / svD), 4).as("chi2_r"))
  }

  /** Top-k most common session PATHS: each session's ordered event-type
    * sequence (capped at `maxLen` steps — long sessions keep their first
    * `maxLen` events, the standard path-analysis truncation that bounds
    * the key space), counted corpus-wide — the "what do users actually
    * do" report that transition matrices ([[sessionTransitions]]) blur
    * by forgetting history.
    *
    * Scale shape: the same one-window-per-key sessionization the whole
    * q_sessions family shares; events are truncated to each session's
    * first `maxLen` BEFORE the path aggregate (a row_number over the
    * session window — it rides the exact partitioning/ordering the
    * sessionization pass already established, so no extra shuffle), which
    * bounds the aggregation-buffer state at maxLen structs even for a
    * million-event bot session; the path count is an ordinary partial-agg
    * groupBy on path strings, and the top-k is a TakeOrderedAndProject.
    *
    * Returns (path, n_sessions) — path is " > "-joined event types.
    */
  def topPaths(
      events: DataFrame,
      k: Int = 20,
      maxLen: Int = 8,
      gapUs: Long = 1800000000L,
      keyCol: String = "user_id",
      tsCol: String = "ts_us",
      typeCol: String = "event_type",
      tieCol: String = "event_id"): DataFrame = {
    require(k > 0 && maxLen > 0, s"k ($k) and maxLen ($maxLen) must be positive")
    val byKey = Window.partitionBy(col(keyCol)).orderBy(asc(tsCol), asc(tieCol))
    val cum   = byKey.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("prev_us", lag(col(tsCol), 1).over(byKey))
      .withColumn("new_sess",
        when(col("prev_us").isNull || col(tsCol) - col("prev_us") > gapUs, 1).otherwise(0))
      .withColumn("sess_id", sum(col("new_sess")).over(cum))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col(keyCol), col("sess_id")).orderBy(asc(tsCol), asc(tieCol))))
      .where(col("__rn") <= maxLen)
      .groupBy(col(keyCol), col("sess_id"))
      .agg(array_sort(collect_list(
        struct(col(tsCol).as("t"), col(tieCol).as("e"), col(typeCol).as("ty")))).as("__evs"))
      .select(concat_ws(" > ",
        transform(col("__evs"), e => e.getField("ty"))).as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path").asc)
      .limit(k)
  }

  /** Peak CONCURRENT sessions per hour — the capacity-planning readout
    * (provision for the peak, not the mean; [[dauWau]] counts who came,
    * this counts how many were here AT ONCE): sessions form under the
    * same 30-min-gap rule as the q_sessions family and stay open one
    * `gapUs` past their last event; concurrency is the classic
    * sweep-line (+1 at session start, −1 at close, running sum), and
    * the per-hour peak is the max the sweep reaches inside each hour.
    *
    * Scale shape — the sweep WITHOUT a whole-stream window: boundary
    * deltas first aggregate PER DISTINCT TIMESTAMP (one partial-agg
    * pass — this also kills tie-order sensitivity: simultaneous starts
    * and ends net out before any ordering exists), then the two-pass
    * chunked-prefix discipline chunked on MINUTES: within-minute
    * running sums ride minute-bounded window partitions, and the only
    * global window carries per-MINUTE net totals (time-domain metadata,
    * never boundary rows — whitelisted like the survival/logrank
    * day-domain cumulatives). Hours collapse the minute peaks. A
    * minute's flat stretch can't exceed an observed peak in its own
    * hour (carry + net ≤ carry + maxrun), and the first present
    * minute's carry equals the hour-start concurrency, so the hourly
    * max over minute peaks IS the true sweep max — the oracle proves it
    * against the direct single-sort sweep. All quantities exact
    * integers.
    *
    * Returns (hour_id, n_starts, peak) for hours containing at least
    * one session boundary; absent hours are flat at the previous
    * hour's closing concurrency. hour_id = epoch hours.
    */
  def sessionConcurrency(
      events: DataFrame,
      gapUs: Long = 1800000000L,
      keyCol: String = "user_id",
      tsCol: String = "ts_us",
      tieCol: String = "event_id"): DataFrame = {
    val byKey = Window.partitionBy(col(keyCol)).orderBy(asc(tsCol), asc(tieCol))
    val cum   = byKey.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sess = events
      .withColumn("prev_us", lag(col(tsCol), 1).over(byKey))
      .withColumn("new_sess",
        when(col("prev_us").isNull || col(tsCol) - col("prev_us") > gapUs, 1).otherwise(0))
      .withColumn("sess_id", sum(col("new_sess")).over(cum))
      .groupBy(col(keyCol), col("sess_id"))
      .agg(min(col(tsCol)).as("st"), (max(col(tsCol)) + lit(gapUs)).as("en"))
      .pin()
    val deltas = sess.select(col("st").as("t"), lit(1L).as("d"))
      .unionAll(sess.select(col("en").as("t"), lit(-1L).as("d")))
      .groupBy(col("t")).agg(sum(col("d")).as("d"))
      .withColumn("minute_id", (col("t") / lit(60000000L)).cast("long"))
    val inMinute = Window.partitionBy(col("minute_id")).orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val perMin = deltas
      .withColumn("run", sum(col("d")).over(inMinute))
      .groupBy(col("minute_id"))
      .agg(sum(col("d")).as("net"), max(col("run")).as("maxrun"))
    val carry = perMin
      .withColumn("carry", coalesce(
        sum(col("net")).over(org.apache.spark.sql.expressions.Window
          .orderBy(col("minute_id")).rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
    val peaks = carry
      .select((col("minute_id") / lit(60L)).cast("long").as("hour_id"),
        (col("carry") + greatest(lit(0L), col("maxrun"))).as("__mp"))
      .groupBy(col("hour_id"))
      .agg(max(col("__mp")).as("peak"))
    val starts = sess
      .select((col("st") / lit(3600000000L)).cast("long").as("hour_id"))
      .groupBy(col("hour_id")).agg(count(lit(1)).as("n_starts"))
    peaks
      .join(starts, Seq("hour_id"), "left_outer")
      .na.fill(0L, Seq("n_starts"))
      .select(col("hour_id"), col("n_starts"), col("peak"))
  }

  /** DAU/WAU engagement ("stickiness"): per calendar day, the count of
    * distinct active users that day (DAU), over the trailing 7-day
    * window (WAU), and their ratio — the metric that separates daily
    * habits from weekly drop-ins.
    *
    * Exact sliding-window DISTINCT without a sliding window: the event
    * stream first collapses to the distinct (day, user) relation (the
    * only corpus-sized shuffle); each row then EXPLODES to the 7 target
    * days it supports (a constant ×7 of day-grain metadata — the same
    * trick q_events_sliding's fixed window count uses), and one distinct
    * count per target day finishes it. Days are emitted only within the
    * observed range, so leading days have partial windows by design
    * (WAU over the data that exists).
    *
    * Returns (day, dau, wau, stickiness_r) with the ratio 4-dp rounded.
    */
  def dauWau(
      events: DataFrame,
      keyCol: String = "user_id",
      tsCol: String = "ts_t"): DataFrame = {
    val daily = events
      .select(to_date(col(tsCol)).as("day"), col(keyCol).as("u"))
      .distinct()
      .pin()
    val dau = daily.groupBy(col("day")).agg(countDistinct(col("u")).as("dau"))
    val maxDay = daily.agg(max(col("day")).as("__max_day"))
    val wau = daily
      .select(explode(sequence(lit(0), lit(6))).as("__off"), col("day"), col("u"))
      .withColumn("day", date_add(col("day"), col("__off")))
      .crossJoin(broadcast(maxDay))
      .where(col("day") <= col("__max_day"))
      .groupBy(col("day"))
      .agg(countDistinct(col("u")).as("wau"))
    dau
      .join(wau, Seq("day"))
      .withColumn("stickiness_r",
        graft.functions.Portable.pround(
          col("dau").cast("double") / col("wau").cast("double"), 4))
  }

  /** Exponentially time-decayed counts per key: Σᵢ 2^(−(T − tᵢ)/halflife)
    * — "how active is this key NOW", the recency-weighted popularity
    * score feeding trending rankings and recency-biased sampling weights
    * (a plain count never forgets; this one halves every `halfLifeUs`).
    *
    * T is the corpus max timestamp (broadcast scalar), so the score is a
    * pure function of the data — reruns and the oracle agree exactly.
    * The decay exponent is computed in exact INTEGER microseconds before
    * one `pow` per row; a single partial-aggregated sum per key, no
    * window. Returns (typeCol, n, decayed_r) 4-dp rounded.
    */
  def decayedCounts(
      events: DataFrame,
      halfLifeUs: Long,
      typeCol: String = "event_type",
      tsCol: String = "ts_us"): DataFrame = {
    require(halfLifeUs > 0, s"halfLifeUs ($halfLifeUs) must be positive")
    val tMax = events.agg(max(col(tsCol)).as("__tmax"))
    events
      .crossJoin(broadcast(tMax))
      .withColumn("__w",
        pow(lit(2.0), -((col("__tmax") - col(tsCol)).cast("double") / halfLifeUs)))
      .groupBy(col(typeCol))
      .agg(
        count(lit(1)).as("n"),
        graft.functions.Portable.pround(sum(col("__w")), 4).as("decayed_r"))
  }

  /** Ordered-funnel conversion over sessions: how many sessions reach
    * stage 1 (`stages(0)` occurs), stage 2 (`stages(1)` STRICTLY AFTER
    * the first stage-1 event), stage 3, … — the product-analytics funnel
    * with real ordering semantics, not mere co-occurrence.
    *
    * Scale shape: sessionization is the one window pass per key the
    * whole q_sessions family shares; each subsequent stage is one
    * conditional aggregate over session-keyed rows joined back onto the
    * (session-sized, shrinking) frontier of sessions still converting.
    * `stages.length` is a small constant, so the plan is a fixed chain
    * of session-keyed shuffles — no per-stage corpus rescan.
    *
    * Returns (stage, stage_idx, n_sessions), stage_idx 1-based.
    */
  def funnel(
      events: DataFrame,
      stages: Seq[String],
      gapUs: Long = 1800000000L,
      keyCol: String = "user_id",
      tsCol: String = "ts_us",
      typeCol: String = "event_type",
      tieCol: String = "event_id"): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val spark = events.sparkSession
    val byKey = Window.partitionBy(col(keyCol)).orderBy(asc(tsCol), asc(tieCol))
    val cum   = byKey.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // sessionized events materialize ONCE: every frontier stage AND every
    // union branch below consumes this relation, and the lazy form
    // re-ran the event-log scan + sessionization window O(stages²) times
    // (seen in the first EXPLAIN audit of this plan)
    val sess = events
      .withColumn("prev_us", lag(col(tsCol), 1).over(byKey))
      .withColumn("new_sess",
        when(col("prev_us").isNull || col(tsCol) - col("prev_us") > gapUs, 1).otherwise(0))
      .withColumn("sess_id", sum(col("new_sess")).over(cum))
      .select(col(keyCol).as("k"), col("sess_id"), col(typeCol).as("et"), col(tsCol).as("ts"))
      .pin()
    // frontier: sessions still in the funnel, with the ts of their last
    // converted stage; stage i+1 = min ts of its event type AFTER that.
    // Each frontier is session-sized and referenced twice (next stage +
    // its own count branch) — checkpoint keeps the chain linear.
    val frontier0 = sess
      .where(col("et") === stages.head)
      .groupBy(col("k"), col("sess_id"))
      .agg(min(col("ts")).as("stage_ts"))
      .pin()
    val frontiers = stages.tail.scanLeft(frontier0) { (front, stage) =>
      sess
        .where(col("et") === stage)
        .join(front, Seq("k", "sess_id"))
        .where(col("ts") > col("stage_ts"))
        .groupBy(col("k"), col("sess_id"))
        .agg(min(col("ts")).as("stage_ts"))
        .pin()
    }
    import spark.implicits._
    stages.zip(frontiers).zipWithIndex
      .map { case ((name, front), i) =>
        front.agg(count(lit(1)).as("n_sessions"))
          .select(lit(name).as("stage"), lit(i + 1).as("stage_idx"), col("n_sessions"))
      }
      .reduce(_ unionAll _)
  }

  /** Exact Shapley channel attribution (Shapley 1953; the marketing form
    * of Dalessandro et al., ADKDD 2012): each channel's credit for the
    * outcome is its average marginal contribution over ALL orderings —
    * φ_c = Σ_{S∌c} |S|!(n−|S|−1)!/n! · (v(S∪c) − v(S)) with v(S) the
    * conversion rate of users whose touched-channel set is EXACTLY S.
    * The only attribution scheme that is efficient (Σφ = v(full) − v(∅)),
    * symmetric, and null-player-consistent — first/last-touch rules
    * (the `eventAttribution` family) satisfy none of those.
    *
    * Exactness at scale: the characteristic function lives on 2ⁿ masks —
    * METADATA-sized for any sane channel count (n ≤ 10 enforced) — so
    * the "exponential" Shapley sum is a tiny self-join, not a sweep;
    * the corpus pays ONE flag pass per user (partial-agg max bitmask)
    * and one mask aggregate. Unobserved sets read v = 0 (spined in,
    * mirrored); v is ROUNDED before the marginal differences per
    * derive-from-rounded; factorial weights are Scala-computed literals
    * emitted verbatim to both engines.
    *
    * Returns (channel, phi_r) ordered by channel.
    */
  def shapleyAttribution(
      events: DataFrame,
      channels: Seq[String],
      outcomeType: String): DataFrame = {
    require(channels.nonEmpty && channels.size <= 10,
      s"channels (${channels.size}) must be 1..10")
    require(channels.distinct.size == channels.size, "channels must be distinct")
    val n = channels.size
    def fact(x: Int): Double = (1 to x).foldLeft(1.0)(_ * _)
    val maskCol = channels.zipWithIndex
      .map { case (c, i) =>
        max(when(col("event_type") === c, lit(1L << i)).otherwise(0L))
      }
      .reduce(_ + _)
    val per = events
      .groupBy(col("user_id"))
      .agg(maskCol.as("__mask"),
        max(when(col("event_type") === outcomeType, 1L).otherwise(0L)).as("__y"))
    val counts = per
      .groupBy(col("__mask"))
      .agg(count(lit(1)).as("__n"), sum(col("__y")).as("__c"))
    val spine = events.sparkSession.range(1L << n).select(col("id").as("__mask"))
    val v = spine
      .join(counts, Seq("__mask"), "left_outer")
      .select(col("__mask"),
        when(col("__n") > 0,
          graft.functions.Portable.pround(
            col("__c").cast("double") / col("__n").cast("double"), 6))
          .otherwise(lit(0.0)).as("__v"))
    val bc = expr("bit_count(__mask)")
    val weight = (1 until n).foldLeft(
      when(bc === 0, lit(fact(0) * fact(n - 1) / fact(n)))) { (acc, s) =>
      acc.when(bc === s, lit(fact(s) * fact(n - 1 - s) / fact(n)))
    }
    val contribs = channels.zipWithIndex.map { case (c, i) =>
      val bit = 1L << i
      val without = v.where(col("__mask").bitwiseAND(lit(bit)) === 0)
        .select(col("__mask"), col("__v").as("__v0"))
      val withBit = v.where(col("__mask").bitwiseAND(lit(bit)) =!= 0)
        .select((col("__mask") - lit(bit)).as("__mask"), col("__v").as("__v1"))
      without.join(withBit, Seq("__mask"))
        .select(lit(c).as("channel"), (weight * (col("__v1") - col("__v0"))).as("__t"))
    }.reduce(_ unionAll _)
    contribs
      .groupBy(col("channel"))
      .agg(graft.functions.Portable.pround(sum(col("__t")), 6).as("phi_r"))
      .orderBy("channel")
  }

  /** Per-cohort uplift readout: among users who DID the treatment action
    * vs those who didn't, how much higher is the outcome rate — the
    * two-model difference estimate of incremental effect, cohorted so a
    * skewed segment can't masquerade as lift (Simpson's inversion shows
    * up as cohorts disagreeing with the pooled number). Observational
    * (exposure is self-selected), which is exactly why the per-cohort z
    * ships alongside: a "lift" within noise is not a finding.
    *
    * One exposure/outcome flag pass per user (partial-agg max), one
    * cohort aggregate; uplift and the pooled two-proportion z are
    * fixed-order scalars from exact integer counts.
    *
    * Returns (cohort, n_treat, conv_treat, n_ctrl, conv_ctrl, uplift_r,
    * z_r) ordered by cohort; NULL z when a side is empty or degenerate.
    */
  def uplift(
      events: DataFrame,
      treatmentType: String,
      outcomeType: String,
      cohorts: Int = 4): DataFrame = {
    require(cohorts >= 1, s"cohorts ($cohorts) must be >= 1")
    val per = events
      .groupBy(col("user_id"))
      .agg(
        max(when(col("event_type") === treatmentType, 1L).otherwise(0L)).as("__t"),
        max(when(col("event_type") === outcomeType, 1L).otherwise(0L)).as("__y"))
    val nT = col("n_treat").cast("double")
    val nC = col("n_ctrl").cast("double")
    val pT = col("conv_treat").cast("double") / nT
    val pC = col("conv_ctrl").cast("double") / nC
    val pp = (col("conv_treat") + col("conv_ctrl")).cast("double") /
      (col("n_treat") + col("n_ctrl")).cast("double")
    val den = pp * (lit(1.0) - pp) * (lit(1.0) / nT + lit(1.0) / nC)
    per
      .groupBy(pmod(col("user_id"), lit(cohorts.toLong)).as("cohort"))
      .agg(
        sum(col("__t")).as("n_treat"),
        sum(col("__t") * col("__y")).as("conv_treat"),
        sum(lit(1L) - col("__t")).as("n_ctrl"),
        sum((lit(1L) - col("__t")) * col("__y")).as("conv_ctrl"))
      .select(col("cohort"), col("n_treat"), col("conv_treat"),
        col("n_ctrl"), col("conv_ctrl"),
        graft.functions.Portable.pround(
          when(col("n_treat") > 0 && col("n_ctrl") > 0, pT - pC), 6).as("uplift_r"),
        graft.functions.Portable.pround(
          when(col("n_treat") > 0 && col("n_ctrl") > 0 && den > 0.0,
            (pT - pC) / sqrt(den)), 6).as("z_r"))
      .orderBy("cohort")
  }
}
