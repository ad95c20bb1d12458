package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Materialize.Pinned

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Scale design (100 TB):
  *  - `bruteForceTopK` broadcasts the (small) query set and computes dot
  *    products map-side inside one codegen stage over the corpus scan — no
  *    shuffle of the corpus at all; the only exchange is the final per-query
  *    top-k (a tiny window over k·|Q| rows after partial pruning).
  *  - `withLshBucket` is the scale path: a random-hyperplane (SimHash-style)
  *    bucket per vector, derived from md5 so it is deterministic and
  *    reproducible in the DuckDB oracle. At 100 TB, self-join on the bucket
  *    replaces the corpus-wide cross join: candidates co-locate per bucket.
  *
  * All arithmetic is double-precision with a fixed left-fold order, so Spark
  * and DuckDB produce bit-identical cosines on the same float inputs.
  */
object Similarity {

  /** Shadows functions.round: cross-engine-portable rounding (see
    * graft.functions.Portable — engine round() diverges at half-way points).
    */
  private def round(c: Column, n: Int): Column = graft.functions.Portable.pround(c, n)

  /** Left-fold double dot product of two numeric array columns — the native
    * codegen'd [[graft.plans.ArrayDotProduct]] (Spark's zip_with/aggregate
    * lambdas run interpreted and dominated every similarity plan; the
    * native loop is bit-identical to the old fold AND the DuckDB oracle).
    */
  def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(graft.plans.ArrayDotProduct(
      GraftBridge.expression(a), GraftBridge.expression(b)))
  }

  /** L2 norm of a float-array column. */
  def norm(vec: String): Column = sqrt(dot(col(vec), col(vec)))

  /** Cosine similarity between two float-array columns (by SQL name). */
  def cosine(a: String, b: String): Column =
    dot(col(a), col(b)) / (norm(a) * norm(b))

  /** Exact top-k cosine neighbors for each query vector.
    *
    * Plan (the 100 TB shape): the pair stream is consumed by a BOUNDED
    * top-k aggregate ([[graft.plans.CosTopK]]) whose partial (map-side)
    * buffers hold at most k entries per query — the exchange moves
    * ≤ k·|Q|·numPartitions tiny structs instead of the full N×|Q| pair
    * stream, and the final merge is a k-way list merge per query. The
    * earlier `row_number() OVER (PARTITION BY q_id)` plan shuffled every
    * pair and collapsed parallelism to |Q| tasks.
    *
    * @param corpus  (idCol, vecCol) — the searched collection
    * @param queries (idCol, vecCol) — the (small, broadcastable) query set
    * @return (q_id, idCol, rank, cos_r): rank 1..k by cosine DESC
    *         (rounded to 6 dp for cross-engine rank stability), id ASC.
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    val e = corpus
      .select(col(idCol), col(vecCol).as("ev"))
      .withColumn("en", norm("ev"))
    val q = queries
      .select(col(idCol).as("q_id"), col(vecCol).as("qv"))
      .withColumn("qn", norm("qv"))
    val topk = GraftBridge.column(
      graft.plans.CosTopK(
        GraftBridge.expression(round(col("cos"), 6)),
        GraftBridge.expression(col(idCol).cast("bigint")),
        GraftBridge.expression(col("cos")),
        k).toAggregateExpression())
    e.join(broadcast(q), col(idCol) =!= col("q_id"))
      .withColumn("cos", dot(col("qv"), col("ev")) / (col("qn") * col("en")))
      .groupBy(col("q_id"))
      .agg(topk.as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(
        col("q_id"),
        col("col.id").as(idCol),
        (col("pos") + 1).as("rank"),
        round(col("col.cos"), 4).as("cos_r"))
  }

  /** Deterministic pseudo-random hyperplane component r(plane, i) in
    * [-0.5, 0.5): first 8 md5 hex chars of "plane:i" as a uint32, scaled.
    * Computed ONCE on the driver and shipped as literals — the DuckDB oracle
    * recomputes the identical md5 formula in SQL and gets the same values.
    */
  def planeComponents(plane: Int, dim: Int): Seq[Double] = {
    val digest = java.security.MessageDigest.getInstance("MD5")
    (1 to dim).map { i =>
      val hex = digest
        .digest(s"$plane:$i".getBytes("UTF-8"))
        .take(4)
        .map(b => f"${b & 0xff}%02x")
        .mkString
      java.lang.Long.parseLong(hex, 16).toDouble / 4294967296.0 - 0.5
    }
  }

  /** Signed projection of the embedding onto pseudo-random hyperplane p
    * (left-fold double sum against a literal hyperplane array).
    */
  private def proj(vecCol: String, plane: Int, dim: Int): Column = {
    val planeLit = array(planeComponents(plane, dim).map(lit): _*)
    dot(col(vecCol), planeLit)
  }

  /** Add an LSH bucket column: `planes`-bit random-hyperplane signature.
    * Vectors in the same bucket are ANN candidates; join on the bucket to
    * avoid the corpus-wide cross join. `dim` must match the embedding width.
    * `seedOffset` shifts the hyperplane seeds so independent bucket TABLES
    * (multi-table LSH, the recall lever) draw disjoint hyperplanes.
    */
  def withLshBucket(df: DataFrame, vecCol: String = "embedding", planes: Int = 8, dim: Int = 64, seedOffset: Int = 0): DataFrame = {
    val bucket = (0 until planes)
      .map(p => when(proj(vecCol, seedOffset + p, dim) > 0, lit(1L << p)).otherwise(lit(0L)))
      .reduce(_ + _)
    // a wrong dim would null-poison every projection (zip_with pads with
    // null) and silently send ALL vectors to bucket 0 — fail loudly instead
    val guarded = when(
      size(col(vecCol)) =!= dim,
      expr(s"raise_error(concat('withLshBucket: dim=$dim but $vecCol has size ', cast(size($vecCol) as string)))").cast("bigint"))
      .otherwise(bucket)
    df.withColumn("bucket", guarded)
  }

  /** Random-projection dimensionality reduction (Johnson–Lindenstrauss):
    * project each embedding onto `m` deterministic md5-derived directions
    * (the SAME hyperplane construction [[withLshBucket]] signs, kept as
    * real values instead of bits), scaled by √(12/m) so expected norms
    * are preserved (uniform [−0.5, 0.5) entries have variance 1/12) — the
    * standard cheap preprocessing that shrinks vectors before ANN
    * indexing or pairwise scans while approximately preserving distances.
    *
    * Pure map-side: the m×d projection matrix is computed ONCE on the
    * driver and shipped as literals (metadata — the oracle recomputes the
    * identical md5 formula in SQL); one dot product per output component.
    * Components land as 4-dp-rounded DOUBLE columns p0..p{m−1} (not a
    * joined string — double→string formatting is NOT cross-engine
    * portable: Spark prints 1e-4 as "1.0E-4", DuckDB as "0.0001").
    * `seedOffset` keeps the directions disjoint from the LSH tables'
    * planes.
    */
  def randomProject(
      df: DataFrame,
      m: Int,
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      seedOffset: Int = 500): DataFrame = {
    require(m >= 1, s"m ($m) must be positive")
    val scale = math.sqrt(12.0 / m)
    df.select(col(idCol) +: (0 until m).map(j =>
      graft.functions.Portable.pround(
        proj(vecCol, seedOffset + j, dim) * scale, 4).as(s"p$j")): _*)
  }

  /** Plane count that keeps EXPECTED bucket membership near `targetBucket`
    * for a corpus of `corpusSize` vectors: 2^planes buckets per table ⇒
    * planes = ⌈log2(N / targetBucket)⌉. The round-2 weakness was a FIXED
    * 2^4 = 16 buckets per table — at 100× the in-bucket self-join grew as
    * N²/16; bucket count must scale with N (this helper) and a hard
    * `maxBucket` guard must bound the stragglers (below).
    */
  def planesFor(corpusSize: Long, targetBucket: Int = 1024): Int = {
    require(corpusSize > 0 && targetBucket > 0)
    math.max(1, math.ceil(math.log(corpusSize.toDouble / targetBucket) / math.log(2.0)).toInt)
  }

  /** Bucket-occupancy diagnostics for [[cosineNearDupPairs]]: one row per
    * (tbl, bucket) with its member count `n`, computed with the IDENTICAL
    * deterministic hyperplanes (same `seedOffset = tbl * planes` layout), so
    * sizes here are exactly the self-join fan-in the pair generator sees.
    * `max(n)` bounds the largest in-bucket task; buckets with `n > maxBucket`
    * are the ones [[cosineNearDupPairs]] drops before any pair materializes.
    * ScaleGuardSpec pins the cap against 50x-replicated vectors with it.
    */
  def lshBucketSizes(
      df: DataFrame,
      planes: Int,
      tables: Int = 2,
      dim: Int = 64,
      vecCol: String = "embedding"): DataFrame =
    (0 until tables)
      .map { tbl =>
        withLshBucket(df.select(col(vecCol)), vecCol, planes, dim, seedOffset = tbl * planes)
          .withColumn("tbl", lit(tbl))
      }
      .reduce(_ unionAll _)
      .groupBy(col("tbl"), col("bucket"))
      .agg(count(lit(1)).as("n"))

  /** Embedding-cosine near-duplicate pairs, LSH-pruned: only vectors sharing
    * an LSH bucket in at least one of `tables` independent bucket tables
    * are compared (the 100 TB path — every self-join key is a bucket, never
    * an all-pairs cross join), then exact cosine filters at `thr`. Returns
    * (v1, v2, cos_r) with v1 < v2, each pair once even if it collides in
    * several tables.
    *
    * Scale guards: `planes` should come from [[planesFor]] so bucket count
    * tracks corpus size, and buckets beyond `maxBucket` members are dropped
    * BEFORE the self-join (same rationale as minhash/simhash caps: a bucket
    * holding thousands of vectors is a degenerate hyperplane region whose
    * quadratic expansion costs everything and ranks nothing — multi-probe
    * or more tables recover its recall, never brute force inside it).
    *
    * Like all LSH methods this trades recall for scale: pairs split across
    * buckets in EVERY table are not compared. Recall ≈ 1-(1-(1-θ/π)^planes)^tables
    * — raise it with more tables (linear cost), fewer planes (quadratic
    * in-bucket cost), or MULTI-PROBE (`probes` > 0): the probe side also
    * visits the `probes` buckets at sign-pattern hamming distance 1 (one
    * plane bit flipped), recovering near-miss pairs for a (probes+1)×
    * expansion of the SMALL join side only — the classic cheap-recall
    * lever when another full table is too expensive.
    * SimilarityRecallSpec pins the measured floors.
    *
    * `probeMaxBucket` caps the PROBED (flipped) bucket visits the way
    * `maxBucket` caps the primary buckets: a flipped-key visit into a
    * bucket holding more than `probeMaxBucket` members is dropped before
    * the join (the member's OWN-bucket visit is untouched — that one is
    * governed by `maxBucket`). Rationale: each probe visit into a bucket
    * of size n costs n comparisons, so on a skewed corpus (replicated or
    * boilerplate-heavy embeddings pile identical vectors into one bucket
    * no matter how many planes [[planesFor]] adds) the probe fan-out
    * concentrates into exactly the hottest kept buckets — SCALEBENCH_r15
    * measured 0.8/11.2/64.8 s at 1/10/50× vs 1.1/3.3/18.0 for plain mode.
    * Probe-pair retention under the cap is ID-ORDER-FREE (r16 advice fix):
    * probe pairs skip the v1<v2 join filter and normalize ids afterward,
    * so a hot–cold flip pair always survives via the cold member's
    * orientation; only hot–hot flip pairs (both buckets over the cap) are
    * shed — exactly the quadratic tail, whose in-bucket recall is already
    * carried by each hot bucket's own-bucket visits.
    * Default Int.MaxValue = no extra cap beyond `maxBucket` (probe targets
    * are kept buckets by construction). Capped probe visits are audited
    * on the same `dropAudit` observation (`probe_capped_buckets` /
    * `probe_capped_members`).
    */
  def cosineNearDupPairs(
      df: DataFrame,
      thr: Double,
      planes: Int = 4,
      tables: Int = 2,
      dim: Int = 64,
      maxBucket: Int = 1 << 12,
      probes: Int = 0,
      probeMaxBucket: Int = Int.MaxValue,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      dropAudit: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    require(maxBucket >= 2, s"maxBucket ($maxBucket) must admit at least one pair")
    require(probes >= 0 && probes <= planes, s"probes ($probes) must be in [0, planes]")
    require(probeMaxBucket >= 1, s"probeMaxBucket ($probeMaxBucket) must be >= 1")
    val base = df.select(col(idCol), col(vecCol)).withColumn("nrm", norm(vecCol))
    // eager checkpoint: the banded relation is read THREE times (bucket
    // counts + both self-join sides), and each un-materialized read would
    // re-run every hyperplane projection (tables × planes dot products per
    // vector — measured 1.6× on q_dedup_embedding). Linear in N, like any
    // production system's materialized bucket table; on a cluster,
    // persist-with-spill or `checkpoint` plays the same role.
    val banded = (0 until tables)
      .map { tbl =>
        withLshBucket(base, vecCol, planes, dim, seedOffset = tbl * planes)
          .withColumn("tbl", lit(tbl))
      }
      .reduce(_ unionAll _)
      .pin()
    // bucket-size guard: the count aggregate is tiny (one row per bucket)
    // and the semi-join prunes saturated-ORIGIN vectors off both sides
    // before any pair materializes. With probing, singleton buckets stay
    // (their member can still pair through a neighbor's probe).
    val counts = banded
      .groupBy(col("tbl"), col("bucket"))
      .agg(count(lit(1)).as("__bn"))
    // the Dedup no-silent-caps discipline: cut mass rides the run itself
    val probeCap = math.min(probeMaxBucket.toLong, maxBucket.toLong)
    val keep = dropAudit.fold(counts) { o =>
      val ms = Dedup.dropMetrics(col("__bn"), maxBucket) ++ (if (probes == 0) Nil else Seq(
        // probe-cap audit: kept buckets too hot to receive FLIPPED visits
        // (their own-bucket pairs still materialize)
        sum(when(col("__bn") > probeCap && col("__bn") <= maxBucket, 1L).otherwise(0L))
          .as("probe_capped_buckets"),
        sum(when(col("__bn") > probeCap && col("__bn") <= maxBucket, col("__bn")).otherwise(0L))
          .as("probe_capped_members")))
      counts.observe(o, ms.head, ms.tail: _*)
    }
      .where(col("__bn").between(if (probes == 0) 2 else 1, maxBucket))
      .select(col("tbl"), col("bucket"))
    val pruned = banded.join(keep, Seq("tbl", "bucket"), "left_semi")
    val a = pruned.select(col("tbl"), col("bucket"),
      col(idCol).as("v1"), col(vecCol).as("va"), col("nrm").as("na"))
    val own = pruned.select(col("tbl"), col("bucket"),
      col(idCol).as("v2"), col(vecCol).as("vb"), col("nrm").as("nb"))
    // own-bucket pairs: symmetric within a bucket, so v1 < v2 emits each
    // pair exactly once
    val ownPairs = a.join(own, Seq("tbl", "bucket"))
      .where(col("v1") < col("v2"))
      .select(col("v1"), col("va"), col("na"), col("v2"), col("vb"), col("nb"))
    // probe pairs: a member's flipped visit lands only in buckets at or
    // under probeCap members. A pair in buckets one flip apart is NOT
    // symmetric under capping (the hot side's bucket may refuse flipped
    // visits while the cold side's accepts them), so no id-order filter
    // here — every materialized orientation is kept and the ids are
    // NORMALIZED to (least, greatest). A hot–cold pair thus always
    // survives via the cold orientation regardless of id order; only
    // hot–hot flip pairs (BOTH buckets over probeCap) are shed — the
    // quadratic tail the cap exists for. Cold–cold flip pairs materialize
    // in both orientations with a bit-identical cosine (same index-order
    // dot), so the final distinct() dedups them.
    val pairs = if (probes == 0) ownPairs else {
      val flipKeys = array(
        (0 until probes).map(p => col("bucket").bitwiseXOR(lit(1L << p))): _*)
      val probeKeep = counts
        .where(col("__bn") <= probeCap)
        .select(col("tbl"), col("bucket"))
      val probeVisits = pruned.select(col("tbl"), explode(flipKeys).as("bucket"),
        col(idCol).as("v2"), col(vecCol).as("vb"), col("nrm").as("nb"))
        .join(probeKeep, Seq("tbl", "bucket"), "left_semi")
      val probePairs = a.join(probeVisits, Seq("tbl", "bucket"))
        .where(col("v1") =!= col("v2"))
        .select(least(col("v1"), col("v2")).as("v1"),
          col("va"), col("na"),
          greatest(col("v1"), col("v2")).as("v2"),
          col("vb"), col("nb"))
      ownPairs.unionAll(probePairs)
    }
    pairs
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .where(col("cos") >= thr)
      .select(col("v1"), col("v2"), round(col("cos"), 4).as("cos_r"))
      .distinct()
  }

  /** IVF cell assignment: route each vector to its max-cosine centroid
    * (tie-break: centroid id ASC). `centroids` is small and broadcast; at
    * scale, ANN queries then search only their query's cell(s) instead of
    * the whole corpus. Returns (idCol, cell, cos_r).
    */
  /** One Lloyd (k-means) update step: route every vector to its max-cosine
    * centroid ([[ivfAssign]]'s map-side argmax), then recompute each cell's
    * centroid as the element-wise mean of its members. This is the training
    * loop that PRODUCES the IVF centroids — iterate it from any seed set.
    *
    * Returns (cell, n_members, centroid_q) where centroid_q is the new
    * centroid quantized to 4 decimals per dimension and rendered as a
    * space-joined integer string (×10⁴): quantizing to integers sidesteps
    * cross-engine float formatting entirely, and 4 decimals is far above
    * the last-ulp noise a different summation order could introduce.
    *
    * Plan shape: assignment is the one-shuffle argmax; the mean is a
    * (cell, dim)-keyed partial aggregation over posexploded components,
    * regrouped per cell map-side — no window, no driver-side collect.
    */
  def centroidUpdate(
      corpus: DataFrame,
      centroids: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    lloydStep(corpus, centroids, idCol, vecCol)
      .select(
        col("cell"),
        col("n_members"),
        // centroid elements are k/1e4 for integer k, so *1e4 recovers k
        // within ~1e-12 and the +0.5 floor snaps exactly
        array_join(
          transform(col("centroid"), x => floor(x * 1e4 + lit(0.5)).cast("bigint")), " ")
          .as("centroid_q"))

  /** One Lloyd step in NUMERIC form — the loop body [[kmeansIterate]] and
    * [[kmeans]] fold: (cell, n_members, centroid ARRAY<DOUBLE>), each
    * centroid element quantized to 4 decimals (floor(avg·1e4+0.5)/1e4).
    * Quantizing every round keeps the iterate cross-engine reproducible:
    * the values feeding the next argmax are exactly representable on both
    * sides, so fp summation-order noise (~1e-14) never reaches a decision
    * boundary. Same plan shape as [[centroidUpdate]]: one argmax shuffle,
    * one (cell, dim)-keyed partial aggregate, no window.
    */
  def lloydStep(
      corpus: DataFrame,
      centroids: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val assigned = ivfAssign(corpus, centroids, idCol, vecCol)
      .select(col(idCol), col("cell"))
      .join(corpus.select(col(idCol), col(vecCol)), Seq(idCol))
    assigned
      .select(col("cell"), col(idCol), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy(col("cell"), col("pos"))
      .agg(
        (floor(avg(col("v").cast("double")) * 1e4 + 0.5) / 1e4).as("m"),
        countDistinct(col(idCol)).as("n"))
      .groupBy(col("cell"))
      .agg(
        max(col("n")).as("n_members"),
        array_sort(collect_list(struct(col("pos"), col("m")))).getField("m").as("centroid"))
  }

  /** k-means‖ scalable initialization (Bahmani, Moseley, Vassilvitskii,
    * Kumar & Vattani, VLDB 2012) — the distributed seeding k-means++
    * can't do: k-means++ needs k SEQUENTIAL corpus passes (each center
    * depends on the previous draw), which at 100 TB means k full scans in
    * serial. k-means‖ instead OVERSAMPLES: a constant number of rounds,
    * each sampling every point independently with probability
    * ℓ·d²(x,C)/φ (φ = Σ d² the current cost), so each round is ONE
    * corpus pass and expected ℓ new candidates land per round. The
    * candidate set (≤ 1 + rounds·capPerRound) is then weighted by how
    * many points it attracts — reclustering those weighted candidates
    * (driver-side, metadata-sized) yields the k seeds.
    *
    * Determinism, the cross-engine discipline: per-pair squared
    * distances quantize to MICRO ints (floor(d²·1e6+0.5), left-fold sum
    * over dims on both engines); φ is an exact integer sum; the sampling
    * verdict is the EXACT integer comparison u·φ < ℓ·d²ᵢ·2⁶⁰ evaluated
    * in decimal(38,0)/HUGEINT (u = 60-bit md5 draw per (round, id)) — no
    * float ever reaches a decision. Candidate rows per round are capped
    * at `capPerRound` by a bounded TakeOrdered on (u, id) (expected
    * draw is ℓ ≪ cap; the cap only sheds a pathological round), and
    * already-chosen candidates have d² = 0 so they can never re-draw.
    *
    * Scale shape: per round ONE broadcast distance join against the
    * ≤cap-sized new-candidate relation + a min-fold per point, one
    * 1-row φ aggregate, one bounded TakeOrdered (the BPE-argmax
    * driver-state pattern); the final weighting is [[ivfAssign]]'s
    * map-side max_by argmax — one row per point up the exchange. The
    * corpus is materialized once and scanned 2·rounds+1 times.
    *
    * Returns (center_id, entered_round, weight): the weighted candidate
    * relation (round 0 = the min-id seed). Feed the top-k by weight —
    * or a driver-side weighted recluster — into [[kmeansIterate]].
    */
  /** [[kmeansParallelInit]]'s per-pair quantized squared distance: the
    * (point × candidate) broadcast join with the micro-int d² column —
    * shared by every sampling round and the final weighting argmax. */
  def kmeansParallelD2(data: DataFrame, cDf: DataFrame): DataFrame = data
    .crossJoin(broadcast(cDf))
    .withColumn("__diff", zip_with(col("__v"), col("__cv"), (a, b) => a - b))
    .withColumn("__d2i",
      floor(dot(col("__diff"), col("__diff")) * lit(1e6) + lit(0.5)).cast("long"))

  /** [[kmeansParallelInit]]'s round body in LAZY form (extracted for the
    * plan audit): min-d² fold per point, the 1-row φ aggregate, the exact
    * integer sampling verdict u·φ < ℓ·d²ᵢ·2⁶⁰, and the bounded (u, id)
    * TakeOrdered cap. Returns the ≤cap sampled (__id) rows. */
  def kmeansParallelRound(
      data: DataFrame,
      cDf: DataFrame,
      r: Int,
      oversample: Int,
      capPerRound: Int): DataFrame = {
    val two60 = lit(1152921504606846976L).cast("decimal(38,0)")
    // decimal(38,0) headroom for the verdict: LHS u·φ needs φ < 10³⁸/2⁶⁰
    // ≈ 8.67e19; RHS ℓ·d²·2⁶⁰ needs d² < 10³⁸/(2⁶⁰·ℓ), and d² ≤ φ, so the
    // binding bound is φ < 8.6e19/ℓ. φ is Σ of 1e6-quantized d², so this
    // admits corpora up to ~10¹³/ℓ unit-scale total squared cost — enforced
    // at runtime (raise_error) instead of silently overflowing under ANSI.
    val phiLimit = 8.6e19 / math.max(1, oversample)
    val dmin = kmeansParallelD2(data, cDf)
      .groupBy(col("__id"))
      .agg(min(col("__d2i")).as("__d2"))
    // the sum runs in decimal(38,0), NOT long: phiLimit exceeds Long.Max
    // for oversample <= 9, so a long sum would hit ANSI ARITHMETIC_OVERFLOW
    // before the friendly raise_error below could ever fire — the decimal
    // accumulator lets phi exceed long range and the guard intercept it
    dmin
      .crossJoin(broadcast(
        dmin.agg(sum(col("__d2").cast("decimal(38,0)")).as("__phi"))
        .withColumn("__phi",
          when(col("__phi") < lit(phiLimit).cast("decimal(38,0)"), col("__phi"))
            .otherwise(raise_error(concat(
              lit(s"kmeans|| phi exceeds decimal(38,0) verdict headroom ($phiLimit): "),
              col("__phi").cast("string"))).cast("decimal(38,0)")))))
      .withColumn("__u",
        graft.functions.HexSlice.u(md5(concat(lit(s"kmpp:$r:"), col("__id"))), 1, 15))
      .where(col("__u").cast("decimal(38,0)") * col("__phi").cast("decimal(38,0)")
        < lit(oversample.toLong).cast("decimal(38,0)")
          * col("__d2").cast("decimal(38,0)") * two60)
      .orderBy(col("__u"), col("__id"))
      .limit(capPerRound)
  }

  def kmeansParallelInit(
      corpus: DataFrame,
      rounds: Int = 3,
      oversample: Int = 8,
      capPerRound: Int = 32,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(rounds >= 1, s"rounds ($rounds) must be >= 1")
    require(oversample >= 1 && capPerRound >= oversample,
      s"need capPerRound ($capPerRound) >= oversample ($oversample) >= 1")
    val spark = corpus.sparkSession
    import spark.implicits._
    val data = corpus
      .select(col(idCol).cast("long").as("__id"), col(vecCol).cast("array<double>").as("__v"))
      .pin()
    val seed = data.orderBy(col("__id")).limit(1).collect()(0)
    // (id, entered_round, vector): ≤ 1 + rounds·cap rows of driver state —
    // the power-iteration d-sized discipline
    var cands = Vector[(Long, Int, Seq[Double])](
      (seed.getLong(0), 0, seed.getSeq[Double](1)))
    for (r <- 1 to rounds) {
      val cDf = cands.map { case (cid, _, v) => (cid, v) }.toDF("__cid", "__cv")
      val drawn = kmeansParallelRound(data, cDf, r, oversample, capPerRound)
      val ids = drawn.select(col("__id")).collect().map(_.getLong(0))
      if (ids.nonEmpty) {
        val vecs = data.where(col("__id").isin(ids: _*))
          .collect().map(rr => rr.getLong(0) -> rr.getSeq[Double](1))
        cands ++= vecs.sortBy(_._1).map { case (i, v) => (i, r, v) }
      }
    }
    val cAll = cands.map { case (cid, _, v) => (cid, v) }.toDF("__cid", "__cv")
    val best = kmeansParallelD2(data, cAll)
      .groupBy(col("__id"))
      .agg(max_by(col("__cid"),
        struct((-col("__d2i")).as("k1"), (-col("__cid")).as("k2"))).as("__best"))
      .groupBy(col("__best"))
      .agg(count(lit(1)).as("__w"))
    cands.map { case (cid, rr, _) => (cid, rr) }.toDF("center_id", "entered_round")
      .join(best.select(col("__best").as("center_id"), col("__w")), Seq("center_id"), "left_outer")
      .select(col("center_id"), col("entered_round"),
        coalesce(col("__w"), lit(0L)).as("weight"))
  }

  /** Fixed-iteration k-means (Lloyd) training loop: `iters` rounds of
    * assign-to-max-cosine-cell → quantized member mean, starting from
    * `init` (idCol, vecCol). Returns the final round's
    * (cell, n_members, centroid_q) in [[centroidUpdate]]'s rendering.
    * Fixed iteration count keeps the semantics DuckDB-expressible (the
    * oracle unrolls the rounds as CTEs); [[kmeans]] is the
    * converge-until-stable form.
    *
    * Scale shape: the corpus is materialized ONCE before the loop
    * (`localCheckpoint`, the [[Graph.pagerank]] pattern — every round
    * re-scans it, and an unmaterialized plan would re-run the upstream
    * derivation per round); each round's centroid table is tiny
    * (k × dim) and checkpointed to cut the growing lineage, exactly like
    * [[Dedup.duplicateGroups]]'s label relation.
    */
  def kmeansIterate(
      corpus: DataFrame,
      init: DataFrame,
      iters: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(iters >= 1, s"iters ($iters) must be >= 1")
    val data = corpus.select(col(idCol), col(vecCol)).pin()
    var step = lloydStep(data, init, idCol, vecCol).pin()
    (2 to iters).foreach { _ =>
      step = lloydStep(
        data, step.select(col("cell").as(idCol), col("centroid").as(vecCol)),
        idCol, vecCol).pin()
    }
    step.select(
      col("cell"),
      col("n_members"),
      array_join(
        transform(col("centroid"), x => floor(x * 1e4 + lit(0.5)).cast("bigint")), " ")
        .as("centroid_q"))
  }

  /** Converging k-means: Lloyd rounds until NO quantized centroid component
    * changes (the 4-dp quantization makes exact array equality a meaningful
    * fixpoint) or `maxIters` is hit. One action per round — the convergence
    * count rides an `observe` metric filled during the round's own
    * checkpoint materialization, the [[Dedup.duplicateGroups]] pattern, so
    * no separate count() job runs. The moved-cell comparison joins against
    * the previous round's (tiny, broadcast) centroid table; a cell whose
    * membership empties out disappears from the update and counts as moved
    * via the outer-join null.
    */
  def kmeans(
      corpus: DataFrame,
      init: DataFrame,
      maxIters: Int = 20,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(maxIters >= 1, s"maxIters ($maxIters) must be >= 1")
    val data = corpus.select(col(idCol), col(vecCol)).pin()
    var cur = lloydStep(data, init, idCol, vecCol).pin()
    var converged = false
    var round = 1
    while (!converged && round < maxIters) {
      val prevC = cur.select(col("cell"), col("centroid").as("__prev"))
      val metricName = s"graft_km_round_$round"
      val observed = lloydStep(
        data, cur.select(col("cell").as(idCol), col("centroid").as(vecCol)), idCol, vecCol)
        .join(broadcast(prevC), Seq("cell"), "full_outer")
        .observe(
          metricName,
          count(when(
            col("__prev").isNull || col("centroid").isNull ||
              col("__prev") =!= col("centroid"), 1)).as("moved"))
        .where(col("centroid").isNotNull) // drop rows for cells that emptied
        .select(col("cell"), col("n_members"), col("centroid"))
      val next = observed.pin()
      converged = observed.queryExecution.observedMetrics
        .get(metricName).forall(_.getLong(0) == 0L)
      cur = next
      round += 1
    }
    cur.select(
      col("cell"),
      col("n_members"),
      array_join(
        transform(col("centroid"), x => floor(x * 1e4 + lit(0.5)).cast("bigint")), " ")
        .as("centroid_q"))
  }

  /** IVF probe SEARCH — the query path the IVF index exists for: each query
    * probes its `nprobe` max-cosine cells and exact-searches ONLY those
    * cells' members. Returns (q_id, idCol, rank, cos_r) exactly like
    * [[bruteForceTopK]]; probing every cell (nprobe = |centroids|) is
    * spec-asserted EQUAL to brute force, smaller nprobe trades recall for
    * the ~nprobe/|cells| scan fraction (recall spec pins the floor).
    *
    * Plan (the 100 TB shape): corpus routing is the map-side `max_by`
    * argmax with the vectors carried through the aggregate — one shuffle,
    * one row per vector (in practice routed once per index build and
    * persisted). The probe assignment is a |Q|×|cells| broadcast cross
    * join pruned by the same bounded [[graft.plans.CosTopK]] aggregate
    * (k = nprobe), and the search joins the (tiny, broadcast) probed query
    * set to cell members on the CELL key — no corpus shuffle, no window
    * anywhere, partial top-k buffers bounded at k per query.
    */
  def ivfSearch(
      corpus: DataFrame,
      centroids: DataFrame,
      queries: DataFrame,
      k: Int,
      nprobe: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    require(k >= 1 && nprobe >= 1)
    def topkAgg(idExpr: Column, n: Int) = GraftBridge.column(
      graft.plans.CosTopK(
        GraftBridge.expression(round(col("cos"), 6)),
        GraftBridge.expression(idExpr.cast("bigint")),
        GraftBridge.expression(col("cos")), n).toAggregateExpression())
    val c = centroids.select(col(idCol).as("c_id"), col(vecCol).as("cv")).withColumn("cn", norm("cv"))
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("qv")).withColumn("qn", norm("qv"))
    val e = corpus.select(col(idCol), col(vecCol).as("ev")).withColumn("en", norm("ev"))
    // routing: argmax cell per vector, vector carried through the agg
    // (first() over a per-id-constant column is deterministic)
    val routed = e.crossJoin(broadcast(c))
      .withColumn("cos", dot(col("ev"), col("cv")) / (col("en") * col("cn")))
      .groupBy(col(idCol))
      .agg(
        max_by(col("c_id"), struct(round(col("cos"), 6).as("k1"), (-col("c_id")).as("k2"))).as("cell"),
        first(col("ev")).as("ev"),
        first(col("en")).as("en"))
    // probe: top-nprobe cells per query, same (cos₆ DESC, id ASC) order as
    // the routing argmax so assignment and probing can never disagree on ties
    val probed = q.crossJoin(broadcast(c))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .groupBy(col("q_id")).agg(topkAgg(col("c_id"), nprobe).as("cells"))
      .select(col("q_id"), explode(col("cells")).as("pc"))
      .select(col("q_id"), col("pc.id").as("cell"))
      .join(q, Seq("q_id"))
    routed.join(broadcast(probed), Seq("cell"))
      .where(col(idCol) =!= col("q_id"))
      .withColumn("cos", dot(col("qv"), col("ev")) / (col("qn") * col("en")))
      .groupBy(col("q_id")).agg(topkAgg(col(idCol), k).as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(
        col("q_id"),
        col("col.id").as(idCol),
        (col("pos") + 1).as("rank"),
        round(col("col.cos"), 4).as("cos_r"))
  }

  /** Product-quantization ENCODING — the memory-compression half of
    * IVF-PQ: the vector splits into `m` contiguous `subDim`-wide
    * subvectors, each replaced by the id of its nearest (L2) codeword in
    * that subspace's codebook. 64 floats become m small ints; ANN then
    * scans codes instead of vectors. `codebooks` is (sub, code_id, cw) —
    * m×k rows, broadcast.
    *
    * Portability: ‖x−c‖² is computed as x·x − 2(x·c) + c·c with the
    * codegen'd left-fold [[dot]], so DuckDB reproduces the doubles; the
    * argmin is the same bounded `max_by` partial-aggregate shape as
    * [[ivfAssign]] (key: −dist₆ with code ASC tie-break) — one shuffle of
    * (id, sub, code) rows, one map-side regroup, no window.
    */
  def pqEncode(
      corpus: DataFrame,
      codebooks: DataFrame,
      m: Int,
      subDim: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    pqCodes(corpus, codebooks, m, subDim, idCol, vecCol)
      .groupBy(col(idCol))
      .agg(array_join(
        array_sort(collect_list(struct(col("sub"), col("code")))).getField("code"), " ")
        .as("codes_str"))

  /** Per-(vector, subspace) PQ code rows — [[pqEncode]] before its final
    * array packing, and the relation [[ivfpqSearch]] scans: one row per
    * (idCol, sub) with the argmin codeword id. Same portable L2 argmin
    * (dist₆ ASC, code ASC) as the packed form.
    */
  def pqCodes(
      corpus: DataFrame,
      codebooks: DataFrame,
      m: Int,
      subDim: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(m >= 1 && subDim >= 1)
    val subs = corpus.select(
      col(idCol),
      posexplode(array((0 until m).map(s => slice(col(vecCol), s * subDim + 1, subDim)): _*))
        .as(Seq("sub", "sv")))
    subs.join(broadcast(codebooks), Seq("sub"))
      .withColumn("dist",
        dot(col("sv"), col("sv")) - lit(2.0) * dot(col("sv"), col("cw")) + dot(col("cw"), col("cw")))
      .groupBy(col(idCol), col("sub"))
      .agg(max_by(
        col("code_id"),
        struct((-round(col("dist"), 6)).as("k1"), (-col("code_id")).as("k2"))).as("code"))
  }

  /** IVF-PQ ADC search — the retrieval half that makes [[pqEncode]]'s codes
    * an index: queries scan COMPRESSED codes, never the corpus vectors.
    * Per query it builds the m×|codebook| asymmetric-distance table
    * d(q_sub, codeword) — squared L2, expanded x·x − 2(x·c) + c·c with the
    * codegen'd [[dot]] — then scores each candidate as the sum of its m
    * codes' table entries and returns the k smallest. Returns
    * (q_id, idCol, rank, adc_q) — adc_q is the ADC distance quantized to
    * 1e-6 integers: the per-(sub, code) entries quantize BEFORE the sum, so
    * the candidate score is exact 64-bit integer arithmetic and
    * cross-engine summation order cannot perturb ranks (the same
    * quantize-then-integer trick as [[centroidUpdate]]).
    *
    * Plan (the 100 TB shape): the encoded relation (cell, sub, code per
    * vector) is the index a build pipeline persists — here it derives from
    * [[ivfAssign]]-routing plus [[pqCodes]], both bounded map-side argmax
    * aggregates. The distance table is |Q|·m·|codebook| rows and the probed
    * (query, cell) assignment ≤ |Q|·nprobe rows — both broadcast; the only
    * corpus-sized exchanges are the per-(query, candidate) integer sum and
    * the bounded [[graft.plans.CosTopK]] top-k, whose partial buffers cap
    * map-side contributions at k. No window, no corpus self-join; scan cost
    * scales with the probed fraction nprobe/|cells| exactly like
    * [[ivfSearch]], on ~m bytes per vector instead of the full embedding.
    */
  def ivfpqSearch(
      corpus: DataFrame,
      centroids: DataFrame,
      codebooks: DataFrame,
      queries: DataFrame,
      k: Int,
      nprobe: Int,
      m: Int,
      subDim: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    ivfpqSearchIndexed(
      ivfpqIndex(corpus, centroids, codebooks, m, subDim, idCol, vecCol),
      centroids, codebooks, queries, k, nprobe, m, subDim, idCol, vecCol)

  /** The persisted IVF-PQ index relation: one row per (idCol, sub) carrying
    * the vector's cell and that subspace's code — cell routing (argmax
    * cosine, [[ivfAssign]]) joined to [[pqCodes]]. A production pipeline
    * builds this ONCE, writes it partitioned by cell, and serves every
    * query from it; ~m small ints per vector replace the full embedding.
    */
  def ivfpqIndex(
      corpus: DataFrame,
      centroids: DataFrame,
      codebooks: DataFrame,
      m: Int,
      subDim: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    pqCodes(corpus, codebooks, m, subDim, idCol, vecCol)
      .join(ivfAssign(corpus, centroids, idCol, vecCol).select(col(idCol), col("cell")), Seq(idCol))

  /** ADC search served from a prebuilt [[ivfpqIndex]] relation — the
    * query-time half: touches ONLY the compressed index, the (tiny)
    * centroid/codebook tables and the query set; the corpus vectors are
    * not an input at all.
    */
  def ivfpqSearchIndexed(
      index: DataFrame,
      centroids: DataFrame,
      codebooks: DataFrame,
      queries: DataFrame,
      k: Int,
      nprobe: Int,
      m: Int,
      subDim: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    require(k >= 1 && nprobe >= 1)
    val encoded = index
    // query half: integer-quantized subspace distance table, broadcast
    val qsubs = queries.select(
      col(idCol).as("q_id"),
      posexplode(array((0 until m).map(s => slice(col(vecCol), s * subDim + 1, subDim)): _*))
        .as(Seq("sub", "qs")))
    val dtable = qsubs.join(broadcast(codebooks), Seq("sub"))
      .select(col("q_id"), col("sub"), col("code_id").as("code"),
        floor(
          (dot(col("qs"), col("qs")) - lit(2.0) * dot(col("qs"), col("cw")) + dot(col("cw"), col("cw")))
            * 1e6 + 0.5).cast("bigint").as("d_q"))
    // probe: top-nprobe max-cosine cells per query — identical (cos₆ DESC,
    // id ASC) ordering as the routing argmax, so ties can never disagree
    val c = centroids.select(col(idCol).as("c_id"), col(vecCol).as("cv")).withColumn("cn", norm("cv"))
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("qv")).withColumn("qn", norm("qv"))
    val probeAgg = GraftBridge.column(
      graft.plans.CosTopK(
        GraftBridge.expression(round(col("cos"), 6)),
        GraftBridge.expression(col("c_id").cast("bigint")),
        GraftBridge.expression(col("cos")), nprobe).toAggregateExpression())
    val probed = q.crossJoin(broadcast(c))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .groupBy(col("q_id")).agg(probeAgg.as("cells"))
      .select(col("q_id"), explode(col("cells")).as("pc"))
      .select(col("q_id"), col("pc.id").as("cell"))
    // ADC scoring: candidates = probed cells' members; each (query,
    // candidate) sums exactly m integer table entries — exact bigint math
    val scored = encoded.join(broadcast(probed), Seq("cell"))
      .where(col(idCol) =!= col("q_id"))
      .join(broadcast(dtable), Seq("q_id", "sub", "code"))
      .groupBy(col("q_id"), col(idCol))
      .agg(sum(col("d_q")).as("adc_q"))
    // bounded top-k on distance ASC (id ASC ties): the negated integer
    // distance is exact in a double (|adc_q| << 2^53)
    val topk = GraftBridge.column(
      graft.plans.CosTopK(
        GraftBridge.expression((-col("adc_q")).cast("double")),
        GraftBridge.expression(col(idCol).cast("bigint")),
        GraftBridge.expression(col("adc_q").cast("double")), k).toAggregateExpression())
    scored.groupBy(col("q_id"))
      .agg(topk.as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(
        col("q_id"),
        col("col.id").as(idCol),
        (col("pos") + 1).as("rank"),
        col("col.cos").cast("bigint").as("adc_q"))
  }

  /** kNN majority-vote label evaluation — the NEIGHBOR-VOTE complement to
    * [[labelAudit]]'s centroid margins (confident-learning's other
    * classic signal): for each query vector, the majority label among its
    * k nearest neighbors (self excluded); disagreement with the vector's
    * own label flags label noise, and per-label accuracy summarizes how
    * separable each class actually is in embedding space.
    *
    * Scale shape: rankings ride [[bruteForceTopK]] (broadcast queries +
    * bounded CosTopK partial top-k — never a window over the corpus
    * axis); neighbor labels join back on the (queries × k)-sized id
    * relation; the vote is a count + min_by-over-(count DESC, label ASC)
    * argmax — the q_mode_brand deterministic-mode shape, no window.
    * Returns (true_label, n_queries, n_correct, acc_r).
    */
  def knnLabelEval(
      emb: DataFrame,
      kNeighbors: Int = 5,
      nQueries: Long = 50,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    require(kNeighbors >= 1, s"kNeighbors ($kNeighbors) must be >= 1")
    val queries = emb.where(col(idCol) < nQueries)
    val nbrs = bruteForceTopK(emb, queries, kNeighbors, idCol, vecCol)
      .join(emb.select(col(idCol), col(labelCol).as("__nl")), Seq(idCol))
    val votes = nbrs
      .groupBy(col("q_id"), col("__nl"))
      .agg(count(lit(1)).as("__c"))
    val pred = votes
      .groupBy(col("q_id"))
      .agg(min_by(col("__nl"),
        struct((-col("__c")).as("nc"), col("__nl").as("l"))).as("__pred"))
    pred
      .join(queries.select(col(idCol).as("q_id"), col(labelCol).as("__ql")), Seq("q_id"))
      .groupBy(col("__ql").as("true_label"))
      .agg(
        count(lit(1)).as("n_queries"),
        sum(when(col("__pred") === col("__ql"), 1L).otherwise(0L)).as("n_correct"))
      .withColumn("acc_r",
        graft.functions.Portable.pround(
          col("n_correct").cast("double") / col("n_queries"), 6))
  }

  /** Top principal component by POWER ITERATION — the d-bounded
    * eigen-solver a 100 TB embedding table can actually run: each round
    * is ONE pass over the corpus computing w = Xᵀ(Xv) (per-row dot
    * against the broadcast-literal v, then a per-component partial-agg
    * sum — nothing larger than d ever leaves the executors), followed by
    * d-sized driver normalization, exactly the bounded driver-loop state
    * the k-means trainer holds. The per-round vector is QUANTIZED (6 dp)
    * before re-broadcast — [[lloydStep]]'s fixed-point discipline — so
    * the DuckDB oracle replays every round exactly and float summation
    * drift cannot compound across rounds.
    *
    * v₀ is the deterministic md5 vector (component j ←
    * (hash60("salt:j") mod 1000 + 1)/1000 — strictly positive, so it
    * cannot be orthogonal to a nonnegative-weight top component and the
    * oracle replays it); the corpus is checkpointed once before the loop
    * ([[Graph.pagerank]] pattern). Returns ONE row:
    * (dims, rounds, eig_r, evr_r, vec_q) — the Rayleigh-quotient
    * eigenvalue estimate ‖w‖, its share of total variance Σ‖x‖²
    * (explained-variance ratio), and the unit eigenvector as space-joined
    * 1e6-quantized integers ([[kmeansIterate]]'s rendering).
    */
  def powerIteration(
      emb: DataFrame,
      rounds: Int = 3,
      vecCol: String = "embedding",
      salt: String = "pca"): DataFrame = {
    require(rounds >= 1, s"rounds ($rounds) must be >= 1")
    val data = emb
      .select(transform(col(vecCol), x => x.cast("double")).as("x"))
      .pin()
    val d = data.select(size(col("x"))).first().getInt(0)
    val (v, lambda) = powerRounds(data, d, rounds, salt)
    val spark = emb.sparkSession
    import spark.implicits._
    val total = data
      .select(dot(col("x"), col("x")).as("sq"))
      .agg(sum(col("sq"))).first().getDouble(0)
    Seq((d, rounds)).toDF("dims", "n_rounds")
      .withColumn("eig_r", lit(math.floor(lambda * 1e4 + 0.5) / 1e4))
      .withColumn("evr_r", lit(math.floor(lambda / total * 1e6 + 0.5) / 1e6))
      .withColumn("vec_q", lit(v.map(x => math.floor(x * 1e6 + 0.5).toLong).mkString(" ")))
  }

  /** The shared power-iteration core: `rounds` quantized rounds on `data`
    * ((x: array<double>) relation), returning the 6-dp unit vector and
    * the final Rayleigh eigenvalue estimate.
    */
  private def powerRounds(
      data: DataFrame, d: Int, rounds: Int, salt: String): (Array[Double], Double) = {
    var v: Array[Double] = Array.tabulate(d)(j => (Similarity.hashMod1000(s"$salt:$j") + 1) / 1000.0)
    var lambda = 0.0
    for (_ <- 1 to rounds) {
      val vLit = array(v.map(lit).toIndexedSeq: _*)
      val w = data
        .withColumn("__dot", dot(col("x"), vLit))
        .select(posexplode(transform(col("x"), e => e * col("__dot"))).as(Seq("pos", "wv")))
        .groupBy(col("pos"))
        .agg(sum(col("wv")).as("w"))
        .orderBy("pos")
        .collect().map(_.getDouble(1)) // d-sized driver state, like centroids
      val nrm = math.sqrt(w.map(x => x * x).sum)
      lambda = nrm / math.sqrt(v.map(x => x * x).sum)
      v = w.map(x => math.floor(x / nrm * 1e6 + 0.5) / 1e6)
    }
    (v, lambda)
  }

  /** TOP-k principal components by power iteration WITH DEFLATION — one
    * component at a time: extract the current top component
    * ([[powerIteration]]'s quantized rounds), then project it out of
    * every vector (x ← x − (x·v)v with the QUANTIZED v shipped as
    * literals, so the deflated stream is bit-identical cross-engine:
    * the per-row dot is the same left-fold both engines run) and
    * repeat. Explained-variance ratios are all against the ORIGINAL
    * total variance, so they add up across components.
    *
    * Scale shape: per component, `rounds` single-pass corpus scans
    * (d-bounded state, as before) plus ONE map-side deflation pass
    * re-checkpointed — the corpus never grows, and everything driver-side
    * stays d-sized. Returns one row per component:
    * (component, dims, n_rounds, eig_r, evr_r, vec_q).
    */
  def powerIterationTop(
      emb: DataFrame,
      components: Int = 2,
      rounds: Int = 3,
      vecCol: String = "embedding",
      salt: String = "pca"): DataFrame = {
    require(components >= 1 && rounds >= 1, s"components/rounds must be >= 1")
    var data = emb
      .select(transform(col(vecCol), x => x.cast("double")).as("x"))
      .pin()
    val d = data.select(size(col("x"))).first().getInt(0)
    val total = data
      .select(dot(col("x"), col("x")).as("sq"))
      .agg(sum(col("sq"))).first().getDouble(0)
    val rows = (1 to components).map { c =>
      val (v, lambda) = powerRounds(data, d, rounds, s"$salt$c")
      if (c < components) {
        val vLit = array(v.map(lit).toIndexedSeq: _*)
        data = data
          .withColumn("__d", dot(col("x"), vLit))
          .select(transform(col("x"), (e, i) => e - col("__d") * element_at(vLit, i + 1)).as("x"))
          .pin()
      }
      (c, d, rounds,
        math.floor(lambda * 1e4 + 0.5) / 1e4,
        math.floor(lambda / total * 1e6 + 0.5) / 1e6,
        v.map(x => math.floor(x * 1e6 + 0.5).toLong).mkString(" "))
    }
    val spark = emb.sparkSession
    import spark.implicits._
    rows.toDF("component", "dims", "n_rounds", "eig_r", "evr_r", "vec_q")
  }

  /** Deterministic [1..1000] draw from the md5 60-bit prefix (oracle:
    * ('0x' || substr(md5(s), 1, 15))::BIGINT % 1000).
    */
  private def hashMod1000(s: String): Long = {
    val digest = java.security.MessageDigest.getInstance("MD5")
    val hex = digest.digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString.take(15)
    java.lang.Long.parseLong(hex, 16) % 1000L
  }

  def ivfAssign(
      corpus: DataFrame,
      centroids: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val e = corpus.select(col(idCol), col(vecCol).as("ev")).withColumn("en", norm("ev"))
    val c = centroids
      .select(col(idCol).as("c_id"), col(vecCol).as("cv"))
      .withColumn("cn", norm("cv"))
    // argmax as a map-side partial aggregation (max_by over a lexicographic
    // (cos₆ DESC, c_id ASC) struct key): the exchange moves ONE row per
    // vector, where the earlier row_number() window shuffled all N×k pairs.
    e.crossJoin(broadcast(c))
      .withColumn("cos", dot(col("ev"), col("cv")) / (col("en") * col("cn")))
      .groupBy(col(idCol))
      .agg(max_by(
        struct(col("c_id"), col("cos")),
        struct(round(col("cos"), 6).as("k1"), (-col("c_id")).as("k2"))).as("best"))
      .select(col(idCol), col("best.c_id").as("cell"), round(col("best.cos"), 4).as("cos_r"))
  }

  /** ANN recall evaluation: recall@k of [[ivfSearch]] against
    * [[bruteForceTopK]] ground truth, per query — the accuracy/cost dial
    * every ANN deployment tunes (nprobe up → recall up → scan cost up),
    * measured ON the corpus instead of assumed from the paper. The eval
    * sibling of the retrieval/langid harnesses.
    *
    * Both rankers are the engine's existing bounded-top-k plans; the
    * comparison is one (query, id) equijoin and a query-sized reduce.
    * Queries where the probed cells contain NO true neighbor emit 0
    * hits via the left join — a silent drop would overstate recall.
    *
    * Returns (q_id, hits, recall_r) — hits = |IVF@k ∩ brute@k|.
    */
  def annRecallEval(
      corpus: DataFrame,
      centroids: DataFrame,
      queries: DataFrame,
      k: Int,
      nprobe: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    import graft.functions.Portable
    val ivf = ivfSearch(corpus, centroids, queries, k, nprobe, idCol, vecCol)
      .select(col("q_id"), col(idCol))
    val bf = bruteForceTopK(corpus, queries, k, idCol, vecCol)
      .select(col("q_id"), col(idCol))
    val hits = ivf
      .join(bf, Seq("q_id", idCol))
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("__h"))
    queries
      .select(col(idCol).as("q_id"))
      .join(hits, Seq("q_id"), "left")
      .select(
        col("q_id"),
        coalesce(col("__h"), lit(0L)).as("hits"),
        Portable.pround(coalesce(col("__h"), lit(0L)).cast("double") / k, 4).as("recall_r"))
  }

  /** Matryoshka truncation eval (Kusupati et al., "Matryoshka
    * Representation Learning", NeurIPS 2022 — serving truncated-prefix
    * embeddings to cut index cost): for each prefix dimension d,
    * recall@k of brute-force search in the d-dim PREFIX space
    * (re-normalized, as MRL serves it) against full-dimension truth —
    * the design table that says how small an index dimension still
    * retrieves what the full vectors would.
    *
    * Shape: the full-dim truth is computed once and checkpointed (each
    * prefix dim joins against it); every search is the bounded
    * [[bruteForceTopK]] partial top-k (rounded-cosine, id tiebreak — no
    * window, deterministic cross-engine); per-dim output is one row.
    *
    * Returns (dim, n_queries, hits, recall_r) — recall averaged over
    * queries as total hits / (n_queries·k).
    */
  def mrlRecallEval(
      corpus: DataFrame,
      queries: DataFrame,
      dims: Seq[Int],
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(dims.nonEmpty && k > 0, "need prefix dims and k > 0")
    val truth = bruteForceTopK(corpus, queries, k, idCol, vecCol)
      .select(col("q_id"), col(idCol))
      .pin()
    val nq = broadcast(queries.agg(count(lit(1)).as("n_queries")))
    dims.map { d =>
      def tr(df: DataFrame) = df.select(col(idCol), slice(col(vecCol), 1, d).as(vecCol))
      bruteForceTopK(tr(corpus), tr(queries), k, idCol, vecCol)
        .select(col("q_id"), col(idCol))
        .join(truth, Seq("q_id", idCol))
        .agg(count(lit(1)).as("hits"))
        .crossJoin(nq)
        .select(lit(d).as("dim"), col("n_queries"), col("hits"),
          graft.functions.Portable.pround(
            col("hits").cast("double") / (col("n_queries") * k), 4).as("recall_r"))
    }.reduce(_ unionByName _)
  }

  /** Embedding-table hygiene audit: per label, the structural checks a
    * pipeline runs before touching vector math — row count, dimension
    * consistency (min/max array length: a single ragged vector poisons
    * every dot product), zero-norm count (unnormalizable — cosine is
    * undefined), NaN count (one NaN norm silently poisons any aggregate
    * built on it), and the norm distribution (mean/min/max — embeddings
    * from the same encoder should cluster tightly; a spread norm range
    * flags mixed encoders or missing normalization).
    *
    * One map-side pass (norm + length per row), one partial-aggregated
    * groupBy — label-count-sized output, no shuffle beyond the
    * aggregation's own.
    *
    * Returns (label, n_vecs, min_dim, max_dim, n_zero, n_nan,
    * mean_norm_r, min_norm_r, max_norm_r).
    */
  def embedHygiene(
      embeds: DataFrame,
      vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    import graft.functions.Portable
    embeds
      .select(col(labelCol), col(vecCol).as("__v"))
      .withColumn("__nrm", sqrt(dot(col("__v"), col("__v"))))
      .withColumn("__d", size(col("__v")))
      .groupBy(col(labelCol))
      .agg(
        count(lit(1)).as("n_vecs"),
        min(col("__d")).as("min_dim"),
        max(col("__d")).as("max_dim"),
        sum(when(col("__nrm") === 0.0, 1L).otherwise(0L)).as("n_zero"),
        sum(when(isnan(col("__nrm")) || col("__nrm").isNull, 1L).otherwise(0L)).as("n_nan"),
        Portable.pround(avg(when(!isnan(col("__nrm")), col("__nrm"))), 4).as("mean_norm_r"),
        Portable.pround(min(when(!isnan(col("__nrm")), col("__nrm"))), 4).as("min_norm_r"),
        Portable.pround(max(when(!isnan(col("__nrm")), col("__nrm"))), 4).as("max_norm_r"))
  }

  /** Label-noise audit (confident-learning shape): score every labeled
    * vector against its OWN label's centroid vs the nearest FOREIGN
    * centroid; a negative margin — closer to another label's center than
    * to its own — is the classic mislabel signal that poisons classifier
    * and reranker training sets. This is the audit a pipeline runs over
    * its labeled embedding table before training.
    *
    * Shape: per-label centroids are [[lloydStep]]'s quantized mean
    * WITHOUT the assignment step — a (label, dim)-keyed partial
    * aggregate, regrouped map-side, 4-decimal fixed-point so
    * summation-order noise never reaches a decision boundary; the tiny
    * (labels × dim) centroid relation broadcasts into one pass over the
    * vectors; own-vs-foreign reduces per vector with a max_by (no
    * window). All cosines go through the floor-based [[graft.functions
    * .Portable.pround]] at 6 dp BEFORE the margin (round-half-up would
    * diverge from the oracle's floor mirror on NEGATIVE cosines).
    *
    * Returns (idCol, labelCol, nearest_other, margin_r, suspect):
    * margin_r = own − best-foreign cosine (4 dp), suspect = margin < 0.
    */
  def labelAudit(
      embeds: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    import graft.functions.Portable
    val cent = embeds
      .select(col(labelCol).as("c_label"), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy(col("c_label"), col("pos"))
      .agg((floor(avg(col("v").cast("double")) * 1e4 + 0.5) / 1e4).as("m"))
      .groupBy(col("c_label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).getField("m").as("cv"))
      .withColumn("cn", sqrt(dot(col("cv"), col("cv"))))
    val e = embeds
      .select(col(idCol), col(labelCol), col(vecCol).as("ev"))
      .withColumn("en", norm("ev"))
    val scored = e
      .crossJoin(broadcast(cent))
      .withColumn("cos6",
        Portable.pround(dot(col("ev"), col("cv")) / (col("en") * col("cn")), 6))
    val own = scored
      .where(col(labelCol) === col("c_label"))
      .select(col(idCol), col(labelCol), col("cos6").as("own_cos"))
    val foreign = scored
      .where(col(labelCol) =!= col("c_label"))
      .groupBy(col(idCol))
      .agg(max_by(
        struct(col("c_label"), col("cos6")),
        struct(col("cos6").as("k1"), (-col("c_label")).as("k2"))).as("best"))
      .select(col(idCol), col("best.c_label").as("nearest_other"), col("best.cos6").as("other_cos"))
    own
      .join(foreign, Seq(idCol))
      .withColumn("margin_r", Portable.pround(col("own_cos") - col("other_cos"), 4))
      .withColumn("suspect", col("margin_r") < 0)
      .select(col(idCol), col(labelCol), col("nearest_other"), col("margin_r"), col("suspect"))
  }

  /** Hard-negative mining for contrastive training: each query's top-k
    * most-similar corpus vectors EXCLUDING near-duplicates (cos >
    * `maxCos`) — the negatives that actually teach an embedding model
    * (random negatives are trivially separable; near-dups are false
    * negatives that poison the loss). Same bounded-partial-top-k plan as
    * [[bruteForceTopK]] with the dup-band filter applied BEFORE the
    * aggregate, so excluded pairs never enter any buffer.
    *
    * Returns (q_id, idCol, rank, cos_r) like the exact top-k.
    */
  def hardNegatives(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      maxCos: Double = 0.95,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    val e = corpus
      .select(col(idCol), col(vecCol).as("ev"))
      .withColumn("en", norm("ev"))
    val q = queries
      .select(col(idCol).as("q_id"), col(vecCol).as("qv"))
      .withColumn("qn", norm("qv"))
    val topk = GraftBridge.column(
      graft.plans.CosTopK(
        GraftBridge.expression(round(col("cos"), 6)),
        GraftBridge.expression(col(idCol).cast("bigint")),
        GraftBridge.expression(col("cos")),
        k).toAggregateExpression())
    e.join(broadcast(q), col(idCol) =!= col("q_id"))
      .withColumn("cos", dot(col("qv"), col("ev")) / (col("qn") * col("en")))
      .where(col("cos") <= maxCos)
      .groupBy(col("q_id"))
      .agg(topk.as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(
        col("q_id"),
        col("col.id").as(idCol),
        (col("pos") + 1).as("rank"),
        round(col("col.cos"), 4).as("cos_r"))
  }

  /** Symmetric per-vector int8 quantization — the 4× embedding-storage
    * compression every large vector store applies before PQ even enters
    * the picture: scale = max|x|/127, code = round(x/scale), both
    * recoverable map-side. Codes are integer-exact cross-engine (the
    * round is the portable floor(x+0.5) form), so a downstream int8 dot
    * product — Σ c₁c₂ · s₁s₂, the serving-path score — is exact integer
    * arithmetic rescaled once, immune to accumulation-order drift.
    *
    * Entirely map-side (no shuffle, no UDF): one pass computes the
    * scale, the code array, and the reconstruction MSE per vector.
    * All-zero vectors take scale 0 with all-zero codes.
    *
    * Returns (idCol, scale_r, codes, mse_r).
    */
  def int8Quantize(
      df: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val sq = (c: Column) => c * c
    df.select(col(idCol), col(vecCol))
      .withColumn("scale",
        array_max(transform(col(vecCol), x => abs(x.cast("double")))) / lit(127.0))
      .withColumn("codes",
        when(col("scale") === 0, transform(col(vecCol), _ => lit(0)))
          .otherwise(transform(col(vecCol),
            x => floor(x.cast("double") / col("scale") + 0.5).cast("int"))))
      .withColumn("mse",
        aggregate(
          zip_with(col(vecCol), col("codes"),
            (x, c) => sq(x.cast("double") - c.cast("double") * col("scale"))),
          lit(0.0), (acc, e) => acc + e) / size(col(vecCol)).cast("double"))
      .select(
        col(idCol),
        round(col("scale"), 8).as("scale_r"),
        col("codes"),
        round(col("mse"), 10).as("mse_r"))
  }

  /** SemDeDup — semantic deduplication by clustering (Abbas et al. 2023's
    * recipe, the embedding-space analogue of MinHash dedup): assign every
    * vector to its max-cosine centroid, compare pairs ONLY within a cell,
    * and drop a vector iff some smaller-id cell-mate sits above the cosine
    * threshold. Clustering is what makes the quadratic comparison feasible:
    * the pair space shrinks from N² to Σ|cell|², and the cells come from
    * the k-means loop ([[kmeansIterate]]) that this operator's centroids
    * are in practice trained with.
    *
    * The keeper rule is the pairwise smaller-id-neighbor form (a vector
    * survives iff NO kept-or-dropped smaller cell-mate is ≥ thr) — the
    * deterministic batch analogue of the paper's keep-one-exemplar; for
    * the transitive-cluster form, feed the intermediate pairs to
    * [[Dedup.duplicateGroups]] exactly like the MinHash pipeline does.
    *
    * Scale shape: assignment is [[ivfAssign]]'s broadcast argmax (one
    * exchange, one row per vector); the member relation is materialized
    * once (three consumers); in-cell pairs come from an equi-join on the
    * cell id with a `maxCell` guard pruning saturated cells BEFORE the
    * quadratic expansion (an over-full cell means the centroids under-fit
    * — retrain with larger k rather than brute-forcing inside it).
    *
    * Returns (idCol, cell, keep) for every corpus vector.
    */
  def semDedup(
      corpus: DataFrame,
      centroids: DataFrame,
      thr: Double,
      maxCell: Int = 1 << 12,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(maxCell >= 2, s"maxCell ($maxCell) must admit at least one pair")
    val member = corpus
      .select(col(idCol), col(vecCol))
      .withColumn("nrm", norm(vecCol))
      .join(ivfAssign(corpus, centroids, idCol, vecCol).select(col(idCol), col("cell")), Seq(idCol))
      .pin()
    val keep = member
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("__cn"))
      .where(col("__cn").between(2, maxCell))
      .select(col("cell"))
    val pruned = member.join(keep, Seq("cell"), "left_semi")
    val dropped = pruned
      .select(col("cell"), col(idCol).as("v1"), col(vecCol).as("va"), col("nrm").as("na"))
      .join(
        pruned.select(col("cell"), col(idCol).as("v2"), col(vecCol).as("vb"), col("nrm").as("nb")),
        Seq("cell"))
      .where(col("v1") < col("v2"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .where(col("cos") >= thr)
      .select(col("v2").as(idCol))
      .distinct()
    member
      .join(dropped.withColumn("__dup", lit(1)), Seq(idCol), "left_outer")
      .select(col(idCol), col("cell"), col("__dup").isNull.as("keep"))
  }

  /** Class-based TF-IDF cluster labeling (the BERTopic c-TF-IDF shape,
    * Grootendorst 2022): for each cluster, the terms whose in-cluster
    * frequency is high while their CLUSTER-level document frequency is
    * low — "what is this embedding cluster about?", the human-readable
    * label an IVF cell/kmeans cluster otherwise lacks. Treats each
    * cluster as one pseudo-document: score = tf_cell · ln((1+n_cells)/
    * (1+cells_containing_word)), smoothed so cluster-universal terms
    * can't divide by zero and get near-zero weight.
    *
    * Work is (cell, word)-sized after one token join: per-(cell, word)
    * partial-agg counts, a vocab-sized cluster-df relation, a broadcast
    * scalar cell count, and a top-k rank window whose partitions are
    * per-CELL vocabularies — never the corpus. Scores rank on the 6-dp
    * rounded value with word-ASC ties, so the labels replay exactly.
    *
    * Returns (cell, rank, word, tf, score_r), rank 1..k per cell.
    */
  def clusterTopTerms(
      tokens: DataFrame,
      assignment: DataFrame,
      k: Int = 5,
      idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = tokens
      .join(assignment.select(col(idCol), col("cell")), Seq(idCol))
      .groupBy(col("cell"), col("word"))
      .agg(count(lit(1)).as("tf"))
      .pin()
    val cdf = tf.groupBy(col("word")).agg(count(lit(1)).as("cw"))
    val nCells = broadcast(tf.select(col("cell")).distinct()
      .agg(count(lit(1)).as("n_cells")))
    val scored = tf
      .join(cdf, Seq("word"))
      .crossJoin(nCells)
      .withColumn("score_r", round(
        col("tf") * log((lit(1.0) + col("n_cells")) / (lit(1.0) + col("cw"))), 6))
    val byCell = Window.partitionBy(col("cell"))
      .orderBy(col("score_r").desc, col("word").asc)
    scored
      .withColumn("rank", row_number().over(byCell))
      .where(col("rank") <= k)
      .select(col("cell"), col("rank"), col("word"), col("tf"), col("score_r"))
  }

  /** Per-cluster MEDOID: within each IVF cell, the member maximizing the
    * summed cosine to its cellmates — the cluster's actual exemplar
    * (kmeans centroids are synthetic mean vectors; a medoid is a REAL
    * data point you can ship as the cluster's representative — the
    * coreset/dataset-distillation selection primitive). SemDeDup decides
    * who to DROP per cell; this decides who SPEAKS for it.
    *
    * Same cost bound as [[semDedup]]: pairs exist only within a cell
    * (Σ|cell|², never N², maxCell-guarded), summed cosines are one
    * per-(cell, member) partial agg, the per-cell argmax is a map-side
    * max_by on the (rounded sum, −id) key — no window. Singleton cells
    * surface with themselves as medoid and sum 0.
    *
    * Returns (cell, medoid_id, n_members, sumcos_r).
    */
  def cellMedoid(
      corpus: DataFrame,
      centroids: DataFrame,
      maxCell: Int = 1 << 12,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val member = corpus
      .select(col(idCol), col(vecCol))
      .withColumn("nrm", norm(vecCol))
      .join(ivfAssign(corpus, centroids, idCol, vecCol).select(col(idCol), col("cell")), Seq(idCol))
      .pin()
    val keep = member
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("__cn"))
      .where(col("__cn") <= maxCell)
      .select(col("cell"))
    val pruned = member.join(keep, Seq("cell"), "left_semi")
    val sums = pruned
      .select(col("cell"), col(idCol).as("v"), col(vecCol).as("va"), col("nrm").as("na"))
      .join(
        pruned.select(col("cell"), col(idCol).as("u"), col(vecCol).as("vb"), col("nrm").as("nb")),
        Seq("cell"))
      .where(col("v") =!= col("u"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .groupBy(col("cell"), col("v"))
      .agg(round(sum(col("cos")), 6).as("sumcos_r"))
    // singleton cells have no pairs: seed every member with sum 0 so they
    // surface as their own medoid
    pruned.select(col("cell"), col(idCol).as("v"))
      .join(sums, Seq("cell", "v"), "left_outer")
      .withColumn("sumcos_r", coalesce(col("sumcos_r"), lit(0.0)))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"),
        max_by(struct(col("v"), col("sumcos_r")),
          struct(col("sumcos_r").as("k1"), (-col("v")).as("k2"))).as("best"))
      .select(col("cell"), col("best.v").as("medoid_id"),
        col("n_members"), col("best.sumcos_r").as("sumcos_r"))
  }

  /** Maximal Marginal Relevance selection (Carbonell & Goldstein, SIGIR
    * 1998): greedily pick `k` items maximizing λ·rel(d) − (1−λ)·max_{s∈S}
    * sim(d, s) — the diversity-aware top-k that plain relevance ranking
    * can't express (it returns k near-copies of the best hit; MMR's
    * second term penalizes each candidate by its similarity to what's
    * ALREADY selected). The training-data use: pick k diverse exemplars,
    * not k duplicates.
    *
    * Scale split: the DISTRIBUTED work is relevance scoring (map-side
    * cosine vs the broadcast query vector) and the bounded top-`n`
    * candidate cut; the greedy loop then runs over the checkpointed
    * n-candidate relation — per round ONE argmax job over ≤ n rows with
    * a 1-row collect, mirroring the BPE-trainer driver-loop discipline
    * (driver state = selected ids, bounded by the algorithm constant k,
    * never corpus-sized). All comparisons are on 6-dp-rounded scores
    * with id-ASC tie-break, so the selection replays exactly
    * cross-engine.
    *
    * Returns (rank, idCol, score_r): rank 1 = pure relevance pick,
    * later ranks score λ·rel − (1−λ)·maxsim.
    */
  def mmrSelect(
      corpus: DataFrame,
      query: DataFrame,
      n: Int = 20,
      k: Int = 4,
      lambda: Double = 0.7,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    val q = query.select(col(vecCol).as("qv")).withColumn("qn", norm("qv"))
    val cand = corpus
      .select(col(idCol), col(vecCol).as("ev"))
      .withColumn("en", norm("ev"))
      .crossJoin(broadcast(q))
      .withColumn("rel_r", round(dot(col("ev"), col("qv")) / (col("en") * col("qn")), 6))
      .select(col(idCol), col("ev"), col("en"), col("rel_r"))
      .orderBy(col("rel_r").desc, col(idCol).asc)
      .limit(n)
      .pin()
    val pairs = cand.select(col(idCol).as("a"), col("ev").as("va"), col("en").as("na"))
      .crossJoin(cand.select(col(idCol).as("b"), col("ev").as("vb"), col("en").as("nb")))
      .where(col("a") =!= col("b"))
      .select(col("a"), col("b"),
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6).as("sim_r"))
      .pin()
    val rels = cand.select(col(idCol), col("rel_r"))

    // ids are read GENERICALLY (Row.get, re-entering the plan as isin
    // literals) so any id type works, and every round's 1-row argmax may
    // legitimately come back EMPTY — fewer than k candidates exist, or
    // the pair relation ran dry — in which case the greedy loop stops
    // with what it has instead of .head-ing an empty array.
    var picked = Vector.empty[(Any, Double)]
    rels.orderBy(col("rel_r").desc, col(idCol).asc).limit(1)
      .select(col(idCol), col("rel_r").as("score_r")).collect().headOption
      .foreach(r => picked = Vector((r.get(0), r.getDouble(1))))
    var exhausted = picked.isEmpty
    while (picked.size < k && !exhausted) {
      val sel = picked.map(_._1)
      val next = pairs
        .where(col("b").isin(sel: _*) && !col("a").isin(sel: _*))
        .groupBy(col("a").as(idCol))
        .agg(max(col("sim_r")).as("maxsim_r"))
        .join(rels, Seq(idCol))
        .select(col(idCol),
          round(lit(lambda) * col("rel_r") - lit(1.0 - lambda) * col("maxsim_r"), 6)
            .as("score_r"))
        .orderBy(col("score_r").desc, col(idCol).asc)
        .limit(1).collect().headOption
      next match {
        case Some(r) => picked = picked :+ ((r.get(0), r.getDouble(1)))
        case None    => exhausted = true
      }
    }
    val idField = cand.schema(idCol)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("rank", org.apache.spark.sql.types.IntegerType,
        nullable = false),
      idField.copy(name = idCol),
      org.apache.spark.sql.types.StructField("score_r", org.apache.spark.sql.types.DoubleType,
        nullable = false)))
    val rows = picked.zipWithIndex.map { case ((id, s), i) =>
      org.apache.spark.sql.Row(i + 1, id, s)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** Mutual (reciprocal) best-match between two embedding sets — the core
    * of margin-based bitext mining (Artetxe & Schwenk, "Margin-based
    * Parallel Corpus Mining with Multilingual Sentence Embeddings", ACL
    * 2019): a pair (a, b) is kept only when b is a's top-1 cosine match
    * in B AND a is b's top-1 in A. Reciprocity kills the hubness failure
    * of one-directional retrieval (a hub vector that is "everyone's
    * nearest neighbor" can win at most its own single mutual edge), so
    * the output is a partial matching: every a and every b appears at
    * most once.
    *
    * Plan: ONE pair relation (broadcast the smaller B side; the corpus A
    * scan never shuffles), then BOTH direction ranks as two window
    * columns over that same relation — no second cosine pass. Ranking is
    * on 6-dp-rounded cosine with partner-id ASC tie-break, so the match
    * is deterministic cross-engine.
    *
    * At 100 TB the exact cross pair relation is replaced by the bucketed
    * candidate generators already in this file (withLshBucket /
    * ivfSearch): run THIS operator's two-window reciprocity filter over
    * their candidate pairs instead — the windows partition by vector id,
    * so no partition ever exceeds a vector's candidate count.
    */
  def mutualTopMatch(
      a: DataFrame,
      b: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ea = a.select(col(idCol).as("a_id"), col(vecCol).as("av")).withColumn("an", norm("av"))
    val eb = b.select(col(idCol).as("b_id"), col(vecCol).as("bv")).withColumn("bn", norm("bv"))
    val pairs = ea
      .crossJoin(broadcast(eb))
      .withColumn("cos", dot(col("av"), col("bv")) / (col("an") * col("bn")))
      .select(col("a_id"), col("b_id"), col("cos"))
    val key = round(col("cos"), 6)
    val ra = row_number().over(Window.partitionBy(col("a_id")).orderBy(key.desc, col("b_id").asc))
    val rb = row_number().over(Window.partitionBy(col("b_id")).orderBy(key.desc, col("a_id").asc))
    pairs
      .withColumn("ra", ra)
      .withColumn("rb", rb)
      .where(col("ra") === 1 && col("rb") === 1)
      .select(col("a_id"), col("b_id"), round(col("cos"), 4).as("cos_r"))
  }

  /** SEMANTIC decontamination against a benchmark embedding set — the
    * third member of the decontamination family (exact k-gram overlap
    * catches verbatim leaks, the Bloom pre-filter makes that cheap;
    * this catches PARAPHRASED leaks both miss — a benchmark item
    * reworded shares almost no 8-grams but sits at high cosine): flag
    * every corpus vector whose max cosine to ANY benchmark vector
    * reaches `threshold`, reporting the nearest benchmark item as the
    * audit trail.
    *
    * Scale shape: benchmarks are small by nature (eval sets, not
    * corpora) — ONE map-side grid vs the broadcast benchmark relation +
    * a per-vector max_by partial agg; no shuffle grows with the
    * benchmark, the corpus is read once. Cosines round to 6 dp BEFORE
    * the threshold compare and the (cos DESC, bench-id ASC) argmax, so
    * the flag set replays exactly.
    *
    * Returns the quarantine list (idCol, bench_id, cos_r) — corpus
    * vectors BELOW threshold are absent (the output is contamination-
    * sized, not corpus-sized).
    */
  def semDecontam(
      corpus: DataFrame,
      bench: DataFrame,
      threshold: Double,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(threshold > -1.0 && threshold <= 1.0, s"threshold ($threshold) must be in (-1, 1]")
    val e = corpus.select(col(idCol), col(vecCol).as("ev")).withColumn("en", norm("ev"))
    val b = bench
      .select(col(idCol).as("b_id"), col(vecCol).as("bv"))
      .withColumn("bn", norm("bv"))
    e.crossJoin(broadcast(b))
      .withColumn("cos_r", round(dot(col("ev"), col("bv")) / (col("en") * col("bn")), 6))
      .groupBy(col(idCol))
      .agg(max_by(
        struct(col("b_id"), col("cos_r")),
        struct(col("cos_r").as("k1"), (-col("b_id")).as("k2"))).as("best"))
      .where(col("best.cos_r") >= threshold)
      .select(col(idCol), col("best.b_id").as("bench_id"), col("best.cos_r").as("cos_r"))
  }

  /** Per-point (best, second-best) ROUNDED centroid cosines — the shared
    * input of the clustering-quality evals: one map-side grid vs the
    * broadcast centroid set, collapsed per point by a k-bounded sorted
    * collect (k = |centroids|, a constant of the query — never a window
    * over the corpus). Assignment ties break to the smaller centroid id,
    * matching [[ivfAssign]].
    *
    * Returns (idCol, cell, a_r, b_r): a = 1 − cos(best), b = 1 − cos(2nd)
    * — cosine DISTANCES to own and nearest-other centroid, both derived
    * from 6-dp-rounded cosines (exact at 6 dp, cross-engine identical).
    */
  private def ownVsOtherDistance(
      corpus: DataFrame,
      centroids: DataFrame,
      idCol: String,
      vecCol: String): DataFrame = {
    val e = corpus.select(col(idCol), col(vecCol).as("ev")).withColumn("en", norm("ev"))
    val c = centroids
      .select(col(idCol).as("c_id"), col(vecCol).as("cv"))
      .withColumn("cn", norm("cv"))
    e.crossJoin(broadcast(c))
      .withColumn("cos_r",
        round(dot(col("ev"), col("cv")) / (col("en") * col("cn")), 6))
      .groupBy(col(idCol))
      .agg(reverse(sort_array(collect_list(
        struct(col("cos_r").as("c"), (-col("c_id")).as("nid"))))).as("cs"))
      .where(size(col("cs")) >= 2)
      .select(col(idCol),
        (-col("cs")(0).getField("nid")).as("cell"),
        (lit(1.0) - col("cs")(0).getField("c")).as("a_r"),
        (lit(1.0) - col("cs")(1).getField("c")).as("b_r"))
  }

  /** Simplified silhouette per cluster (Hruschka, de Castro & Campello,
    * HIS 2004 — the centroid form of Rousseeuw's silhouette, JCAM 1987):
    * s(i) = (b−a)/max(a,b) with a = distance to the OWN centroid and
    * b = distance to the nearest OTHER centroid — the clustering-quality
    * readout the IVF/kmeans family was missing ([[annRecallEval]] grades
    * retrieval, [[labelAudit]] grades labels; this grades the PARTITION
    * itself: near 1 = compact and separated, near 0 = boundary
    * straddlers — with the argmax assignment a ≤ b always, so s ∈ [0,1];
    * feeding externally-drifted labels would need the general form).
    *
    * The simplified form is the 100 TB one: full silhouette pays the
    * in-cell pair expansion (Σ|cell|²), this is ONE map-side grid vs the
    * broadcast centroid set + a per-point k-bounded reduce — no pair
    * space at all, the same cost as assignment. Cosine distance 1 − cos
    * on 6-dp-rounded cosines; s rounds to 6 dp per point, per-cell means
    * ride 1e6-scaled exact decimal sums (the logRank discipline).
    *
    * Returns (cell, n, sil_r) per non-empty cell, plus mean distances
    * (a_mean_r) for the scatter readout.
    */
  def silhouetteSimplified(
      corpus: DataFrame,
      centroids: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val s = ownVsOtherDistance(corpus, centroids, idCol, vecCol)
      .withColumn("__s", round(
        when(greatest(col("a_r"), col("b_r")) > 0.0,
          (col("b_r") - col("a_r")) / greatest(col("a_r"), col("b_r")))
          .otherwise(lit(0.0)), 6))
    val i6 = (c: Column) => floor(c * 1e6 + lit(0.5)).cast("decimal(38,0)")
    s.groupBy(col("cell"))
      .agg(
        count(lit(1)).as("n"),
        sum(i6(col("__s"))).as("__ss"),
        sum(i6(col("a_r"))).as("__sa"))
      .select(col("cell"), col("n"),
        round(
          col("__ss").cast("double") / 1e6 / col("n").cast("double"), 6).as("sil_r"),
        round(
          col("__sa").cast("double") / 1e6 / col("n").cast("double"), 6).as("a_mean_r"))
  }

  /** Davies–Bouldin index terms per cluster (Davies & Bouldin, IEEE
    * TPAMI 1979): R_i = max_{j≠i} (S_i + S_j) / M_ij with S = mean
    * member-to-centroid distance (scatter) and M = centroid separation —
    * [[silhouetteSimplified]]'s cluster-level sibling (silhouette grades
    * POINTS and averages up; DB grades each cluster by its WORST
    * neighbor, so one merged-looking pair shows up as two high-R rows
    * instead of a diluted mean). Lower is better; the index is the mean
    * of r_max_r over cells.
    *
    * Scale: scatters come from the same map-side grid as the silhouette
    * (no pair expansion); separations are a k²-row broadcast centroid
    * self-join — metadata-sized. S_i from 1e6-scaled exact sums then
    * rounded; each R term from the ROUNDED (S, M) pieces; the per-cell
    * max is over k−1 rounded doubles with no tie sensitivity (max of a
    * set is order-independent).
    *
    * Returns (cell, n, s_r, r_max_r) per non-empty cell; r_max NULL if
    * some paired centroid coincides (M = 0) and no positive-M neighbor
    * exists.
    */
  def daviesBouldin(
      corpus: DataFrame,
      centroids: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    // cells-sized (k rows) and referenced on BOTH sides of the pair join
    // — materialize once or the whole corpus grid re-runs per reference
    val scat = silhouetteSimplified(corpus, centroids, idCol, vecCol)
      .select(col("cell"), col("n"), col("a_mean_r"))
      .pin()
    val c = centroids
      .select(col(idCol).as("c_id"), col(vecCol).as("cv"))
      .withColumn("cn", norm("cv"))
    val sep = c
      .crossJoin(broadcast(
        c.select(col("c_id").as("d_id"), col("cv").as("dv"), col("cn").as("dn"))))
      .where(col("c_id") =!= col("d_id"))
      .select(col("c_id"), col("d_id"),
        round(
          lit(1.0) - dot(col("cv"), col("dv")) / (col("cn") * col("dn")), 6).as("m_r"))
    // LEFT joins: a cell whose every sibling centroid is empty or
    // coincident must still surface (with r_max NULL), not vanish
    scat
      .join(sep, col("cell") === col("c_id"), "left_outer")
      .join(
        scat.select(col("cell").as("d_id"), col("a_mean_r").as("__sj")),
        Seq("d_id"), "left_outer")
      .withColumn("__rterm",
        when(col("m_r") > 0.0 && col("__sj").isNotNull,
          round((col("a_mean_r") + col("__sj")) / col("m_r"), 6)))
      .groupBy(col("cell"))
      .agg(
        first(col("n")).as("n"),
        first(col("a_mean_r")).as("s_r"),
        max(col("__rterm")).as("r_max_r"))
  }
}
