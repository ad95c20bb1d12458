package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Materialize.Pinned

/** Time-series regularization: resample irregular event streams onto a
  * fixed grid and fill the gaps — the feature-engineering step every
  * metrics/telemetry/training-signal pipeline runs before a model sees
  * the data (models want dense fixed-step series; event logs are sparse
  * and bursty).
  */
object TimeSeries {

  /** Per-key fixed-step resample with forward fill: bucket each key's
    * events to `truncUnit` grid points, average the value per bucket
    * (4-dp portable rounding), build the key's dense spine from its first
    * to its last observed bucket, and carry the last observed average
    * forward across empty buckets. Returns (keyCol, bucket, value,
    * is_gap) — `is_gap` marks carried-forward rows.
    *
    * Scale shape: ONE shuffle keys the bucket aggregate; the spine is a
    * map-side `sequence` generator off the per-key span (no driver-side
    * calendar, no cross join against a global date table); the gap join
    * and the forward-fill window both run on (key, bucket) / key — and a
    * per-KEY window partition is the bounded kind (≤ the key's span in
    * buckets), unlike the per-language windows this repo distributes via
    * prefix sums: keys number in the millions and partitions stay tiny,
    * so the window parallelizes on exactly the axis the data grows.
    */
  def resampleFfill(
      events: DataFrame,
      keyCol: String,
      tsCol: String,
      valueCol: String,
      truncUnit: String = "DAY"): DataFrame = {
    val daily = events
      .groupBy(col(keyCol), date_trunc(truncUnit, col(tsCol)).as("bucket"))
      .agg(graft.functions.Portable.pround(avg(col(valueCol)), 4).as("v"))
    val spine = daily
      .groupBy(col(keyCol))
      .agg(min(col("bucket")).as("d0"), max(col("bucket")).as("d1"))
      .select(col(keyCol),
        explode(sequence(col("d0"), col("d1"), expr(s"INTERVAL 1 $truncUnit"))).as("bucket"))
    val w = Window
      .partitionBy(col(keyCol))
      .orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine
      .join(daily, Seq(keyCol, "bucket"), "left_outer")
      .select(
        col(keyCol),
        col("bucket"),
        last(col("v"), ignoreNulls = true).over(w).as("value"),
        col("v").isNull.as("is_gap"))
  }

  /** Rolling z-score anomaly flags per key: each observation's value
    * against the mean/stddev of the `n` STRICTLY PRECEDING observations
    * (the online-detector semantics — a point must not normalize itself),
    * flagged when |z| > `thr`. The first `n` points per key are warm-up
    * and are not emitted (no full window exists yet).
    *
    * Scale shape: ONE bounded `rowsBetween(-n, -1)` window per key — the
    * frame buffers at most `n` rows per task regardless of how hot the
    * key is, the bounded kind of window (same argument as
    * [[resampleFfill]]'s per-key fill). Zero-variance windows emit z = 0
    * (a constant history makes any value "anomalous" by division, which
    * is noise, not signal). z is 4-dp portably rounded BEFORE the
    * threshold test so both engines flag the identical rows.
    *
    * Returns (keyCol, tieCol, valueCol, z_r, is_anomaly).
    */
  /** Trending keys per time bucket: hour-over-hour count lift
    * (n / previous-hour n) per key, top-k lifts per bucket — the
    * "what's suddenly hot" feed every monitoring/discovery surface
    * renders. "Previous" is the key's previous OBSERVED bucket (a lag
    * over its sorted buckets — equal to hour-minus-one on a dense
    * stream; a key silent for a gap compares against its last active
    * hour). A key's first bucket is skipped: a lift against no baseline
    * is undefined, and a brand-new key is a different signal than a
    * rising one.
    *
    * Scale shape: the event stream reduces to (bucket, key, n) with one
    * partial-aggregated groupBy FIRST; both windows then run over that
    * metadata relation — lag partitions by key over its hour buckets,
    * the rank partitions by bucket over the key cardinality. Neither
    * touches an event-count axis. The lift is ROUNDED before ranking so
    * top-k tie-breaks are cross-engine identical.
    *
    * Returns (bucket, keyCol, n, prev_n, lift_r, rn), rn ≤ k per bucket.
    */
  def trending(
      events: DataFrame,
      tsCol: String = "ts_t",
      keyCol: String = "event_type",
      k: Int = 3): DataFrame = {
    require(k >= 1, s"k ($k) must be >= 1")
    val counts = events
      .groupBy(
        date_format(col(tsCol), "yyyy-MM-dd HH").as("bucket"),
        col(keyCol))
      .agg(count(lit(1)).as("n"))
    val byKey = Window.partitionBy(col(keyCol)).orderBy(col("bucket"))
    val byBucket = Window.partitionBy(col("bucket"))
      .orderBy(desc("lift_r"), asc(keyCol))
    counts
      .withColumn("prev_n", lag(col("n"), 1).over(byKey))
      .where(col("prev_n").isNotNull)
      .withColumn("lift_r",
        graft.functions.Portable.pround(col("n") / col("prev_n").cast("double"), 4))
      .withColumn("rn", row_number().over(byBucket))
      .where(col("rn") <= k)
      .select(col("bucket"), col(keyCol), col("n"), col("prev_n"), col("lift_r"), col("rn"))
  }

  def rollingZscore(
      events: DataFrame,
      n: Int = 10,
      thr: Double = 3.0,
      keyCol: String = "user_id",
      tsCol: String = "ts_t",
      valueCol: String = "value",
      tieCol: String = "event_id"): DataFrame = {
    require(n >= 2, s"n ($n) must be >= 2 for a sample stddev")
    val w = Window
      .partitionBy(col(keyCol))
      .orderBy(asc(tsCol), asc(tieCol))
      .rowsBetween(-n, -1)
    events
      .withColumn("__m", avg(col(valueCol)).over(w))
      .withColumn("__s", stddev_samp(col(valueCol)).over(w))
      .withColumn("__c", count(col(valueCol)).over(w))
      .where(col("__c") === n)
      .withColumn("z_r", graft.functions.Portable.pround(
        when(col("__s") > 0, (col(valueCol) - col("__m")) / col("__s"))
          .otherwise(lit(0.0)), 4))
      .withColumn("is_anomaly", (abs(col("z_r")) > thr).cast("int"))
      .select(col(keyCol), col(tieCol), col(valueCol), col("z_r"), col("is_anomaly"))
  }

  /** Burstiness (Fano factor / index of dispersion) of per-bucket event
    * counts, per key: F = Var(c)/Mean(c) over the key's ACTIVE time
    * buckets. A Poisson (memoryless) arrival process sits at F ≈ 1;
    * F ≫ 1 is bursty (bot storms, batch jobs, replay floods), F < 1 is
    * more regular than chance (schedulers, heartbeats) — the traffic-
    * shape dial a mean-rate dashboard can't see.
    *
    * Mean/variance come from EXACT integer sums of the bucket counts
    * (the [[graft.operators.Stats.welchTTest]] discipline), so the
    * statistic replays bit-identically. Two partial-agg passes — (key,
    * bucket) then key — nothing key-cardinality-sized beyond the counts.
    * Buckets with zero events don't exist in the count relation, so this
    * is the ACTIVE-bucket Fano (documented choice: including empty
    * buckets needs the key's span spine — resampleFfill's job).
    *
    * Keys with <2 active buckets are dropped (variance undefined).
    *
    * Returns (keyCol, n_buckets, n_events, mean_r, var_r, fano_r).
    */
  def burstiness(
      events: DataFrame,
      keyCol: String = "event_type",
      tsCol: String = "ts_t",
      bucketFmt: String = "yyyy-MM-dd HH"): DataFrame = {
    val cnt = events
      .withColumn("__b", date_format(col(tsCol), bucketFmt))
      .groupBy(col(keyCol), col("__b"))
      .agg(count(lit(1)).as("c"))
    cnt
      .groupBy(col(keyCol))
      .agg(
        count(lit(1)).as("n_buckets"),
        sum(col("c")).as("s1"),
        sum(col("c") * col("c")).as("s2"))
      .where(col("n_buckets") >= 2)
      .withColumn("mean_r", graft.functions.Portable.pround(
        col("s1").cast("double") / col("n_buckets"), 4))
      .withColumn("var_r", graft.functions.Portable.pround(
        (col("s2").cast("double")
          - col("s1").cast("double") * col("s1").cast("double") / col("n_buckets"))
          / (col("n_buckets") - 1), 4))
      .withColumn("fano_r", graft.functions.Portable.pround(
        col("var_r") / col("mean_r"), 4))
      .select(col(keyCol), col("n_buckets"), col("s1").as("n_events"),
        col("mean_r"), col("var_r"), col("fano_r"))
  }

  /** Hour-of-day SEASONALITY profile per key — the one-way-ANOVA (η²)
    * answer to "is this stream's hourly volume driven by time of day?":
    * per key, seasonality strength = 1 − SS_within/SS_total over the
    * observed hourly buckets grouped by hour-of-day, plus the peak hour
    * and its mean. Strength ≈ 1 ⇒ the hour-of-day profile explains the
    * volume (schedule your compactions/backfills off-peak); ≈ 0 ⇒ volume
    * is aperiodic and [[burstiness]]'s Fano factor is the right lens.
    *
    * All sufficient statistics are EXACT integer sums (per-hod n, Σc,
    * Σc²); the SS terms become doubles only in the final ≤24-row
    * combine. Buckets are the OBSERVED (key, day-hour) cells — an hour
    * with zero events contributes no bucket (documented; a dense-grid
    * variant would cross-join the day×hod domain).
    *
    * Returns (keyCol, n_buckets, peak_hod, peak_mean_r, strength_r).
    */
  def seasonality(
      events: DataFrame,
      keyCol: String = "event_type",
      tsCol: String = "ts_t"): DataFrame = {
    val cnt = events
      .withColumn("__b", date_format(col(tsCol), "yyyy-MM-dd HH"))
      .withColumn("__hod", hour(col(tsCol)))
      .groupBy(col(keyCol), col("__b"), col("__hod"))
      .agg(count(lit(1)).as("c"))
    val perHod = cnt
      .groupBy(col(keyCol), col("__hod"))
      .agg(count(lit(1)).as("nh"), sum(col("c")).as("s1"), sum(col("c") * col("c")).as("s2"))
      .withColumn("mean_r", graft.functions.Portable.pround(
        col("s1").cast("double") / col("nh"), 6))
    perHod
      .groupBy(col(keyCol))
      .agg(
        sum(col("nh")).as("n_buckets"),
        sum(col("s1")).as("t1"),
        sum(col("s2")).as("t2"),
        sum(col("s2").cast("double")
          - col("s1").cast("double") * col("s1").cast("double") / col("nh")).as("__ssw"),
        // peak hour: (mean DESC, hod ASC) — the struct ordering is total
        // because hods are distinct within a key
        max_by(struct(col("__hod"), col("mean_r")),
          struct(col("mean_r"), -col("__hod"))).as("__peak"))
      .withColumn("__sst",
        col("t2").cast("double")
          - col("t1").cast("double") * col("t1").cast("double") / col("n_buckets"))
      .select(col(keyCol), col("n_buckets"),
        col("__peak.__hod").as("peak_hod"),
        col("__peak.mean_r").as("peak_mean_r"),
        graft.functions.Portable.pround(
          when(col("__sst") > 0.0, lit(1.0) - col("__ssw") / col("__sst")).otherwise(0.0), 4)
          .as("strength_r"))
  }

  /** DENSE per-key hourly count series: the regular grid [min_h, max_h]
    * per key with zero-filled gaps — what lag-indexed statistics
    * ([[acf]], [[cusumChangepoint]]) require, where the ACTIVE-bucket
    * relations ([[burstiness]]) deliberately are not. The spine is a
    * per-key `sequence(min_h, max_h)` explode: span-sized (calendar-
    * bounded metadata), joined once against the (key, hour) counts.
    * Returns (key, __h, __x) with __x a zero-or-positive exact long.
    */
  def denseHourlySeries(
      events: DataFrame,
      keyCol: String = "event_type",
      tsCol: String = "ts_t"): DataFrame = {
    val cnt = events
      .withColumn("__h", floor(col(tsCol).cast("long") / 3600L).cast("long"))
      .groupBy(col(keyCol), col("__h"))
      .agg(count(lit(1)).as("__c"))
    val spine = cnt
      .groupBy(col(keyCol))
      .agg(min(col("__h")).as("__mn"), max(col("__h")).as("__mx"))
      .select(col(keyCol), explode(sequence(col("__mn"), col("__mx"))).as("__h"))
    spine
      .join(cnt, Seq(keyCol, "__h"), "left_outer")
      .select(col(keyCol), col("__h"), coalesce(col("__c"), lit(0L)).as("__x"))
  }

  /** Sample autocorrelation function at lags 1..`maxLag` per key over
    * the dense hourly count series (Box & Jenkins, "Time Series
    * Analysis", 1970 — the standard r_k with the FULL-series mean and
    * denominator):
    *
    *   r_k = Σ_{t≤n−k} (x_t − x̄)(x_{t+k} − x̄) / Σ (x_t − x̄)²
    *
    * The memory test behind seasonality-period discovery and "is this
    * stream's volume sticky hour-to-hour" — [[seasonality]] asks the
    * hour-OF-DAY question, acf asks the adjacent-hour one. Expanded to
    * sufficient sums: every input (lagged cross-products C_k, window
    * sums A_k/B_k, S1, S2) is an EXACT integer from one pass of
    * PARTITIONED lag windows over the span-sized series, and r_k is one
    * fixed-order scalar expression over them — bit-identical
    * cross-engine before the 6-dp rounding. Keys whose series has zero
    * variance (constant counts) read NULL.
    *
    * Returns (key, lag, n_buckets, acf_r), one row per key × lag.
    */
  def acf(
      events: DataFrame,
      keyCol: String = "event_type",
      tsCol: String = "ts_t",
      maxLag: Int = 3): DataFrame = {
    require(maxLag >= 1, s"maxLag ($maxLag) must be >= 1")
    val ser = denseHourlySeries(events, keyCol, tsCol)
    val w = Window.partitionBy(col(keyCol)).orderBy(col("__h"))
    val lagged = (1 to maxLag).foldLeft(ser) { (d, k) =>
      d.withColumn(s"__l$k", lag(col("__x"), k).over(w))
    }
    val aggs = Seq(
      count(lit(1)).as("n"),
      sum(col("__x")).as("s1"),
      sum(col("__x") * col("__x")).as("s2")) ++
      (1 to maxLag).flatMap { k =>
        Seq(
          sum(col("__x") * col(s"__l$k")).as(s"c$k"),
          sum(when(col(s"__l$k").isNotNull, col(s"__l$k"))).as(s"a$k"),
          sum(when(col(s"__l$k").isNotNull, col("__x"))).as(s"b$k"))
      }
    val perKey = lagged.groupBy(col(keyCol)).agg(aggs.head, aggs.tail: _*)
    val rows = (1 to maxLag).map { k =>
      struct(lit(k.toLong).as("lag"), col(s"c$k").as("ck"),
        col(s"a$k").as("ak"), col(s"b$k").as("bk"))
    }
    perKey
      .select(col(keyCol), col("n"), col("s1"), col("s2"),
        explode(array(rows: _*)).as("__r"))
      .withColumn("__m", col("s1").cast("double") / col("n").cast("double"))
      .withColumn("__den",
        col("s2").cast("double") - col("s1").cast("double") * col("__m"))
      .select(col(keyCol), col("__r.lag").as("lag"), col("n").as("n_buckets"),
        graft.functions.Portable.pround(
          when(col("__den") > 0.0,
            (col("__r.ck").cast("double")
              - col("__m") * (col("__r.ak") + col("__r.bk")).cast("double")
              + (col("n") - col("__r.lag")).cast("double") * col("__m") * col("__m"))
              / col("__den")),
          6).as("acf_r"))
  }

  /** Scaled periodogram at CANDIDATE periods over the dense hourly
    * series (Schuster 1898; the Fisher-test ordinate): per key and
    * period p, the spectral power
    *
    *   I(p) = (Σ (x_t−x̄)·cos(2πt/p))² + (Σ (x_t−x̄)·sin(2πt/p))²  all / n
    *
    * — the "WHICH cycle length dominates" discovery [[seasonality]]
    * can't make (it assumes the 24h period) and [[acf]] only hints at
    * (a period-p cycle ripples every lag). Candidate periods are a
    * literal list, so the frequency axis is fixed and auditable, not
    * data-sized.
    *
    * Scale shape: the span-sized spine crossed with the ≤10-literal
    * period axis map-side (explode of a literal array — no shuffle
    * before the partial agg); per-term products are 6-dp-rounded then
    * 1e6-scaled into EXACT decimal sums (the order-independent-Σ
    * discipline), so the only doubles crossing engines are cos/sin of
    * identical arguments — empirically bit-stable far inside the
    * rounding margin (terms are O(count)·O(1-ulp) ≈ 1e-13 off at
    * worst). Power combines the two exact sums in one fixed-order
    * scalar.
    *
    * Returns (key, period, n_buckets, power_r 4 dp), one row per
    * key × candidate period.
    */
  def periodogram(
      events: DataFrame,
      periods: Seq[Int] = Seq(6, 8, 12, 24, 48),
      keyCol: String = "event_type",
      tsCol: String = "ts_t"): DataFrame = {
    require(periods.nonEmpty && periods.forall(_ >= 2), s"periods ($periods) must be >= 2")
    val ser = denseHourlySeries(events, keyCol, tsCol)
    val mn = ser
      .groupBy(col(keyCol))
      .agg(min(col("__h")).as("__mn"), count(lit(1)).as("n"), sum(col("__x")).as("__s1"))
    val i6 = (c: Column) => floor(c * 1e6 + lit(0.5)).cast("decimal(38,0)")
    val ang = lit(2 * math.Pi) / col("period").cast("double") * (col("__h") - col("__mn")).cast("double")
    val dev = col("__x").cast("double") - col("__s1").cast("double") / col("n").cast("double")
    val cD = col("__sc").cast("double") / 1e6
    val sD = col("__ss").cast("double") / 1e6
    ser
      .join(broadcast(mn), Seq(keyCol))
      .select(col(keyCol), col("n"), col("__h"), col("__mn"), col("__s1"), col("__x"),
        explode(array(periods.map(p => lit(p)): _*)).as("period"))
      .select(col(keyCol), col("n"), col("period"),
        i6(dev * cos(ang)).as("__c_i"),
        i6(dev * sin(ang)).as("__s_i"))
      .groupBy(col(keyCol), col("period"))
      .agg(first(col("n")).as("n_buckets"),
        sum(col("__c_i")).as("__sc"),
        sum(col("__s_i")).as("__ss"))
      .select(col(keyCol), col("period"), col("n_buckets"),
        graft.functions.Portable.pround(
          (cD * cD + sD * sD) / col("n_buckets").cast("double"), 4).as("power_r"))
  }

  /** Hurst exponent by rescaled-range (R/S) analysis (Hurst 1951;
    * Mandelbrot & Wallis 1969) over the dense hourly series: chop each
    * stream into full blocks of `sizes` hours, per block compute the
    * range R of the mean-centered cumulative sums and the population
    * std S, and fit ln(R/S) against ln(size) — slope H ≈ 0.5 for
    * memoryless streams, > 0.5 for long-range-dependent (self-similar)
    * load, the burstiness horizon [[acf]]'s fixed lags can't see (ACF
    * measures ADJACENT stickiness; H measures whether bursts cluster at
    * EVERY scale — the difference between provisioning for √t and t^H
    * queue growth).
    *
    * Scale shape: the spine crossed with the ≤4-literal size axis
    * map-side; cumulative sums window PARTITIONED per (key, size,
    * block); everything after the block reduce is block-table-sized.
    * Parity: block sums are exact integers, Z_t = prefix − pos·(s/n)
    * and S are fixed-order scalars, per-block ln(R/S) rounds to 6 dp
    * then 1e6-scales into exact decimal sums, the per-size mean
    * re-rounds, and the ≤4-point OLS runs on 1e6-scaled integer terms
    * with ln(size) literals emitted verbatim into both engines.
    * Degenerate blocks (S = 0 or R = 0) drop on both sides.
    *
    * Returns (key, n_sizes, hurst_r 4 dp); NULL when < 2 sizes survive.
    */
  def hurstRs(
      events: DataFrame,
      sizes: Seq[Int] = Seq(8, 16, 32, 64),
      keyCol: String = "event_type",
      tsCol: String = "ts_t"): DataFrame = {
    require(sizes.nonEmpty && sizes.forall(_ >= 4), s"sizes ($sizes) must be >= 4")
    require(sizes.distinct.size == sizes.size, s"sizes ($sizes) must be distinct")
    val ser = denseHourlySeries(events, keyCol, tsCol)
    val t0 = ser.groupBy(col(keyCol)).agg(min(col("__h")).as("__h0"))
    val axis = explode(array(sizes.map(s =>
      struct(lit(s).as("size"), lit(math.log(s.toDouble)).as("__lx"))): _*)).as("__sz")
    val base = ser
      .join(broadcast(t0), Seq(keyCol))
      .select(col(keyCol), (col("__h") - col("__h0")).as("__t"), col("__x"), axis)
      .select(col(keyCol), col("__t"), col("__x"),
        col("__sz.size").as("size"), col("__sz.__lx").as("__lx"))
      .withColumn("__b", (col("__t") / col("size")).cast("long"))
    val bs = base
      .groupBy(col(keyCol), col("size"), col("__b"))
      .agg(count(lit(1)).as("__n"), sum(col("__x")).as("__s"),
        sum(col("__x") * col("__x")).as("__ss"))
      .where(col("__n") === col("size"))
    val wb = Window.partitionBy(col(keyCol), col("size"), col("__b")).orderBy(col("__t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wr = Window.partitionBy(col(keyCol), col("size"), col("__b")).orderBy(col("__t"))
    val sD = col("__s").cast("double")
    val zc = col("__pref").cast("double") - col("__pos").cast("double") * (sD / col("size").cast("double"))
    val cd = base
      .withColumn("__pos", row_number().over(wr))
      .withColumn("__pref", sum(col("__x")).over(wb))
      .join(bs, Seq(keyCol, "size", "__b"))
      .withColumn("__z", zc)
    val sdev = sqrt((col("__ss").cast("double") - sD * (sD / col("size").cast("double")))
      / col("size").cast("double"))
    val i6 = (c: Column) => floor(c * 1e6 + lit(0.5)).cast("decimal(38,0)")
    val blk = cd
      .groupBy(col(keyCol), col("size"), col("__lx"), col("__b"))
      .agg(max(col("__z")).as("__mx"), min(col("__z")).as("__mn"),
        first(col("__ss")).as("__ss"), first(col("__s")).as("__s"))
      .withColumn("__r", col("__mx") - col("__mn"))
      .withColumn("__sd", sdev)
      .where(col("__sd") > 0 && col("__r") > 0)
      .select(col(keyCol), col("size"), col("__lx"),
        i6(log(col("__r") / col("__sd"))).as("__l_i"))
    val ys = blk
      .groupBy(col(keyCol), col("size"), col("__lx"))
      .agg(count(lit(1)).as("__nb"), sum(col("__l_i")).as("__sl"))
      .withColumn("__y", graft.functions.Portable.pround(
        col("__sl").cast("double") / 1e6 / col("__nb").cast("double"), 6))
    val kD   = col("k").cast("double")
    val sxD  = col("__fx").cast("double") / 1e6
    val syD  = col("__fy").cast("double") / 1e6
    val sxyD = col("__fxy").cast("double") / 1e6
    val sxxD = col("__fxx").cast("double") / 1e6
    val dxx = kD * sxxD - sxD * sxD
    ys
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("k"),
        sum(i6(col("__lx"))).as("__fx"),
        sum(i6(col("__y"))).as("__fy"),
        sum(i6(col("__lx") * col("__y"))).as("__fxy"),
        sum(i6(col("__lx") * col("__lx"))).as("__fxx"))
      .select(col(keyCol), col("k").as("n_sizes"),
        graft.functions.Portable.pround(
          when(col("k") > 1 && dxx > 0.0,
            (kD * sxyD - sxD * syD) / dxx), 4).as("hurst_r"))
  }

  /** CUSUM changepoint locator (Page, Biometrika 1954; the Taylor
    * cumulative-deviation form): per key, S_t = Σ_{i≤t}(x_i − x̄) over
    * the dense hourly series, changepoint at argmax |S_t| — the "WHEN
    * did this stream's level shift" answer that [[rollingZscore]]'s
    * local window can't give (a slow drift never trips a z-score, but
    * its cumulative deviation keeps climbing). The estimator is exact
    * in integers end to end: n·S_t = n·prefix_t − t·S1 never touches a
    * float, the argmax tie-break (|nS| DESC, hour ASC) is total, and
    * only the reported magnitude becomes a rounded double. Prefix sums
    * ride a PARTITIONED window over the span-sized series.
    *
    * Returns (key, n_buckets, cp_hour, mag_r): the absolute epoch-hour
    * of the maximizing prefix and |S_t*| = |nS|/n at 6 dp.
    */
  def cusumChangepoint(
      events: DataFrame,
      keyCol: String = "event_type",
      tsCol: String = "ts_t"): DataFrame =
    cusumFromSeries(denseHourlySeries(events, keyCol, tsCol), keyCol)

  /** [[cusumChangepoint]] body over an already-built (key, __h, __x)
    * dense series — shared with [[levelShift]] so both legs run off ONE
    * materialized spine.
    */
  def cusumFromSeries(ser: DataFrame, keyCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col("__h"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wk = Window.partitionBy(col(keyCol))
    val wpick = Window.partitionBy(col(keyCol))
      .orderBy(abs(col("__ns")).desc, col("__h").asc)
    ser
      .withColumn("__pre", sum(col("__x")).over(w))
      .withColumn("__t", row_number().over(
        Window.partitionBy(col(keyCol)).orderBy(col("__h"))))
      .withColumn("__n", count(lit(1)).over(wk))
      .withColumn("__s1", sum(col("__x")).over(wk))
      .withColumn("__ns", col("__n") * col("__pre") - col("__t") * col("__s1"))
      .withColumn("__rn", row_number().over(wpick))
      .where(col("__rn") === 1)
      .select(col(keyCol), col("__n").as("n_buckets"), col("__h").as("cp_hour"),
        graft.functions.Portable.pround(
          abs(col("__ns")).cast("double") / col("__n").cast("double"), 6).as("mag_r"))
  }

  /** Level-shift readout at the CUSUM changepoint: split each key's
    * dense hourly series at [[cusumChangepoint]]'s argmax (the last
    * pre-shift hour by construction — S_t peaks where the deviation run
    * ends) and report both segment means with Welch's unequal-variance t
    * between them — "the stream's rate moved at hour H, from a to b,
    * and the shift is/isn't noise". Locator and test compose from the
    * engine's existing disciplines: the spine is materialized ONCE and
    * feeds both legs; all segment statistics are conditional EXACT
    * integer sums in one partial-agg pass (the [[graft.operators.Stats]]
    * welchTTest discipline), so the readout replays bit-identically.
    * Keys where either segment has <2 buckets or the combined variance
    * is 0 read t_r = NULL.
    *
    * Returns (key, cp_hour, n_pre, n_post, mean_pre_r, mean_post_r, t_r).
    */
  def levelShift(
      events: DataFrame,
      keyCol: String = "event_type",
      tsCol: String = "ts_t"): DataFrame = {
    val ser = denseHourlySeries(events, keyCol, tsCol).pin()
    val cp = cusumFromSeries(ser, keyCol).select(col(keyCol), col("cp_hour"))
    val pre = col("__h") <= col("cp_hour")
    val st = ser
      .join(cp, Seq(keyCol))
      .groupBy(col(keyCol), col("cp_hour"))
      .agg(
        sum(when(pre, 1L).otherwise(0L)).as("n_pre"),
        sum(when(pre, col("__x")).otherwise(0L)).as("__s1p"),
        sum(when(pre, col("__x") * col("__x")).otherwise(0L)).as("__s2p"),
        sum(when(!pre, 1L).otherwise(0L)).as("n_post"),
        sum(when(!pre, col("__x")).otherwise(0L)).as("__s1q"),
        sum(when(!pre, col("__x") * col("__x")).otherwise(0L)).as("__s2q"))
    val m1 = col("__s1p").cast("double") / col("n_pre")
    val m2 = col("__s1q").cast("double") / col("n_post")
    val v1 = ((col("__s2p").cast("double")
      - col("__s1p").cast("double") * col("__s1p").cast("double") / col("n_pre"))
      / (col("n_pre") - 1))
    val v2 = ((col("__s2q").cast("double")
      - col("__s1q").cast("double") * col("__s1q").cast("double") / col("n_post"))
      / (col("n_post") - 1))
    st.select(col(keyCol), col("cp_hour"), col("n_pre"), col("n_post"),
      graft.functions.Portable.pround(
        when(col("n_pre") > 0, m1), 4).as("mean_pre_r"),
      graft.functions.Portable.pround(
        when(col("n_post") > 0, m2), 4).as("mean_post_r"),
      graft.functions.Portable.pround(
        when(col("n_pre") >= 2 && col("n_post") >= 2
          && v1 / col("n_pre") + v2 / col("n_post") > 0.0,
          (m1 - m2) / sqrt(v1 / col("n_pre") + v2 / col("n_post"))), 4).as("t_r"))
  }

  /** Lagged cross-correlation between two keys' dense hourly series:
    * Pearson r of (x_t, y_{t+lag}) for lag 0..maxLag — does activity in
    * stream A LEAD stream B, and by how many hours ([[acf]] asks this of
    * a stream against itself; this asks it across streams — the
    * "clicks foreshadow purchases" readout). Each lag's sample is the
    * exact overlap of A's spine with B's shifted spine, so partial
    * windows never fabricate zeros outside either stream's span.
    *
    * One spine build ([[denseHourlySeries]] on the two keys only), a
    * (maxLag+1)-way explode of the A side, one equi-join on the shifted
    * hour, one partial-agg pass: all six sufficient sums are exact
    * integers (counts), r is one fixed-order scalar per lag —
    * deterministic under any partial-agg order. Span-sized everything.
    *
    * Returns (lag, n, r_r) ordered by lag; r reads NULL when either
    * side's variance is 0 in the overlap.
    */
  /** Simple-exponential-smoothing one-step forecast (Brown 1956) per key
    * over the dense hourly series, with α = 1/2 EXACTLY: every smoothing
    * weight α(1−α)^lag is a DYADIC rational, so scaling by 2^(L−1) turns
    * the entire level into ONE exact integer sum —
    * S = y_oldest + Σ_{lag<L−1} y_lag·2^(L−2−lag), forecast = S/2^(L−1)
    * — no float recursion to replay, no partial-agg order sensitivity,
    * and the division by a power of two is exact in doubles. The window
    * truncates at `window` lags (contributions beyond lag 40 are below
    * 2⁻⁴⁰ — noise); a shorter series uses its full span with the
    * classic l₁ = y₁ initialization absorbed into the oldest weight.
    *
    * One spine build, one key-sized extent join, one partial-agg sum.
    * y·2^(L−2) must fit the decimal sum — at window 40 that bounds
    * hourly counts by ~2¹⁴ per unit of the 38-digit budget; the window
    * dial trades memory horizon against headroom.
    *
    * Returns (key, n_points, forecast_r) ordered by key.
    */
  def sesForecast(
      events: DataFrame,
      keyCol: String = "event_type",
      tsCol: String = "ts_t",
      window: Int = 40): DataFrame = {
    require(window >= 1 && window <= 60, s"window ($window) must be in [1, 60]")
    val ser = denseHourlySeries(events, keyCol, tsCol)
    val ext = ser
      .groupBy(col(keyCol))
      .agg(max(col("__h")).as("__hx"), min(col("__h")).as("__mn"))
      .select(col(keyCol), col("__hx"),
        least(lit(window.toLong), col("__hx") - col("__mn") + 1L).as("__leff"))
    val lag = col("__hx") - col("__h")
    // functions.shiftleft only takes a literal bit count — the SQL form
    // accepts a column expression
    val weight = when(lag === col("__leff") - 1L, lit(1L))
      .otherwise(expr("shiftleft(CAST(1 AS BIGINT), CAST(__leff - 2 - (__hx - __h) AS INT))"))
    ser
      .join(ext, Seq(keyCol))
      .where(lag < col("__leff"))
      .groupBy(col(keyCol))
      .agg(max(col("__leff")).as("n_points"),
        sum((col("__x") * weight).cast("decimal(38,0)")).as("__s"))
      .select(col(keyCol), col("n_points"),
        graft.functions.Portable.pround(
          col("__s").cast("double")
            / expr("shiftleft(CAST(1 AS BIGINT), CAST(n_points - 1 AS INT))").cast("double"),
          6).as("forecast_r"))
      .orderBy(keyCol)
  }

  /** MASE forecast backtest (Hyndman & Koehler, IJF 2006): hold out each
    * stream's LAST hour, forecast it with the dyadic [[sesForecast]]
    * from the remaining history, and scale the absolute error by the
    * in-sample seasonal-naive MAE (mean |y_t − y_{t−season}| over the
    * training span) — the scale-free accuracy number that makes streams
    * of different volumes comparable, and the "is the model beating the
    * dumbest seasonal guess" gate (MASE ≥ 1 means it is not).
    *
    * One spine build; the SES sum, the holdout actual, and the
    * seasonal-naive sum are each one bounded pass over the span-sized
    * series. Exact integers everywhere except the final ratios: the
    * forecast is ROUNDED before the error per derive-from-rounded, the
    * seasonal MAE stays an exact integer ratio, and MASE is one
    * fixed-order scalar.
    *
    * Returns (key, n_train, actual, forecast_r, mase_r) ordered by key;
    * mase reads NULL when the training span is shorter than `season`
    * (no naive baseline exists) or the naive MAE is 0.
    */
  def maseBacktest(
      events: DataFrame,
      keyCol: String = "event_type",
      tsCol: String = "ts_t",
      window: Int = 40,
      season: Int = 24): DataFrame = {
    require(window >= 1 && window <= 60, s"window ($window) must be in [1, 60]")
    require(season >= 1, s"season ($season) must be >= 1")
    val ser = denseHourlySeries(events, keyCol, tsCol)
    val ext = ser
      .groupBy(col(keyCol))
      .agg(max(col("__h")).as("__hx"), min(col("__h")).as("__mn"))
      .select(col(keyCol), col("__hx"),
        least(lit(window.toLong), col("__hx") - col("__mn")).as("__leff"))
      .where(col("__leff") >= 1)
    val lag = col("__hx") - 1L - col("__h")
    val weight = when(lag === col("__leff") - 1L, lit(1L))
      .otherwise(expr("shiftleft(CAST(1 AS BIGINT), CAST(__leff - 2 - (__hx - 1 - __h) AS INT))"))
    val fc = ser
      .join(ext, Seq(keyCol))
      .where(col("__h") < col("__hx") && lag < col("__leff"))
      .groupBy(col(keyCol))
      .agg(max(col("__leff")).as("n_train"),
        sum((col("__x") * weight).cast("decimal(38,0)")).as("__s"))
      .select(col(keyCol), col("n_train"),
        graft.functions.Portable.pround(
          col("__s").cast("double")
            / expr("shiftleft(CAST(1 AS BIGINT), CAST(n_train - 1 AS INT))").cast("double"),
          6).as("forecast_r"))
    val actual = ser
      .join(ext, Seq(keyCol))
      .where(col("__h") === col("__hx"))
      .select(col(keyCol), col("__x").as("actual"))
    val naive = ser.select(col(keyCol), col("__h"), col("__x"))
      .join(ser.select(col(keyCol), (col("__h") + season).as("__h"),
        col("__x").as("__xp")), Seq(keyCol, "__h"))
      .join(ext, Seq(keyCol))
      .where(col("__h") < col("__hx"))
      .groupBy(col(keyCol))
      .agg(sum(abs(col("__x") - col("__xp"))).as("__sad"),
        count(lit(1)).as("__nsn"))
    fc
      .join(actual, Seq(keyCol))
      .join(naive, Seq(keyCol), "left_outer")
      .select(col(keyCol), col("n_train"), col("actual"), col("forecast_r"),
        graft.functions.Portable.pround(
          when(col("__nsn") > 0 && col("__sad") > 0,
            abs(col("forecast_r") - col("actual").cast("double"))
              / (col("__sad").cast("double") / col("__nsn").cast("double"))),
          4).as("mase_r"))
      .orderBy(keyCol)
  }

  def crossCorrelation(
      events: DataFrame,
      keyA: String,
      keyB: String,
      keyCol: String = "event_type",
      tsCol: String = "ts_t",
      maxLag: Int = 6): DataFrame = {
    require(maxLag >= 0, s"maxLag ($maxLag) must be >= 0")
    val ser = denseHourlySeries(
      events.where(col(keyCol).isin(keyA, keyB)), keyCol, tsCol)
    val x = ser.where(col(keyCol) === keyA).select(col("__h"), col("__x"))
    val y = ser.where(col(keyCol) === keyB)
      .select(col("__h").as("__hy"), col("__x").as("__y"))
    val lags = array((0 to maxLag).map(l => lit(l.toLong)): _*)
    val nD = col("n").cast("double")
    val dx = nD * col("__sxx").cast("double") -
      col("__sx").cast("double") * col("__sx").cast("double")
    val dy = nD * col("__syy").cast("double") -
      col("__sy").cast("double") * col("__sy").cast("double")
    val num = nD * col("__sxy").cast("double") -
      col("__sx").cast("double") * col("__sy").cast("double")
    x.select(col("__h"), col("__x"), explode(lags).as("lag"))
      .join(y, col("__hy") === col("__h") + col("lag"))
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("n"),
        sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
        sum(col("__x") * col("__x")).as("__sxx"),
        sum(col("__y") * col("__y")).as("__syy"),
        sum(col("__x") * col("__y")).as("__sxy"))
      .select(col("lag"), col("n"),
        graft.functions.Portable.pround(
          when(dx > 0.0 && dy > 0.0, num / sqrt(dx * dy)), 6).as("r_r"))
      .orderBy("lag")
  }

  /** Holt linear-trend forecast (Holt 1957, reprinted IJF 2004 — the
    * double-exponential-smoothing sibling of [[sesForecast]]): over the
    * last `window` hours of the dense hourly series, the level/trend
    * recursion with α = β = ½,
    *
    *   l_t = ½·x_t + ½·(l_{t−1} + b_{t−1}),
    *   b_t = ½·(l_t − l_{t−1}) + ½·b_{t−1},
    *
    * initialized l₂ = x₂, b₂ = x₂ − x₁; one-step-ahead forecast l + b.
    * Where SES flat-lines a ramping stream by design, Holt extrapolates
    * the ramp — the other half of the classical smoothing toolbox and
    * [[maseBacktest]]'s natural next baseline.
    *
    * Scale shape: one partial-agg collects each key's windowed series
    * into a SORTED struct array (≤ window elements, a constant of the
    * query — the span filter runs before the collect), and the
    * recursion is a single codegen'd `aggregate` fold over that array:
    * no per-iteration joins, no driver loop, keys parallelize. Parity:
    * l and b round to 6 dp at EVERY recursion step, so the chain is a
    * fixed-order scalar expression over rounded values and the DuckDB
    * recursive CTE replays it exactly.
    *
    * Returns (key, n_points, level_r, trend_r, forecast_r); a
    * single-bucket key forecasts its only value (trend 0).
    */
  def holtForecast(
      events: DataFrame,
      keyCol: String = "event_type",
      tsCol: String = "ts_t",
      window: Int = 40): DataFrame = {
    require(window >= 2 && window <= 168, s"window ($window) must be in [2, 168]")
    import graft.functions.Portable
    val ser = denseHourlySeries(events, keyCol, tsCol)
    val ext = ser.groupBy(col(keyCol)).agg(max(col("__h")).as("__hx"))
    val arr = ser.join(ext, Seq(keyCol))
      .where(col("__hx") - col("__h") < window)
      .groupBy(col(keyCol))
      .agg(sort_array(collect_list(struct(col("__h"), col("__x")))).as("__ser"))
    def r6(c: Column): Column = floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
    val folded = aggregate(
      col("__ser"),
      struct(lit(0L).as("n"), lit(0.0).as("l"), lit(0.0).as("b")),
      (acc, e) => {
        val x = e.getField("__x").cast("double")
        val n = acc.getField("n")
        val l0 = acc.getField("l")
        val b0 = acc.getField("b")
        val l1 = r6(lit(0.5) * x + lit(0.5) * (l0 + b0))
        val b1 = r6(lit(0.5) * (l1 - l0) + lit(0.5) * b0)
        struct(
          (n + lit(1L)).as("n"),
          when(n <= lit(1L), x).otherwise(l1).as("l"),
          when(n === lit(0L), lit(0.0))
            .when(n === lit(1L), x - l0).otherwise(b1).as("b"))
      })
    arr.select(col(keyCol), folded.getField("n").as("n_points"),
      Portable.pround(folded.getField("l"), 6).as("level_r"),
      Portable.pround(folded.getField("b"), 6).as("trend_r"),
      Portable.pround(folded.getField("l") + folded.getField("b"), 6).as("forecast_r"))
  }
}
