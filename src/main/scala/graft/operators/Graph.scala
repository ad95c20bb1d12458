package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Materialize.Pinned
import graft.functions.Portable

/** Iterative graph analytics over relational edge lists — the PageRank /
  * degree-analysis family a data-curation pipeline uses to weight sources
  * (e.g. rank hosts in a crawl graph before sampling from them).
  *
  * The graph is any (src, dst) DataFrame; [[undirected]] symmetrizes it.
  * PageRank here is the fixed-iteration declarative form: each iteration
  * is contribution-join → sum-by-dst → teleport (no driver-side collect —
  * the only scalars, node count and degree, stay in broadcast subtrees).
  * The edge list and the degree table are materialized ONCE
  * (`pin()`, the [[Dedup.duplicateGroups]] pattern) before the
  * loop: a pure foldLeft plan re-plans and RE-EXECUTES the whole edge
  * derivation (orders⋈lineitem → union → distinct here) in every
  * iteration — round 6 measured a 415-node physical plan whose parquet
  * scans appeared 10+ times, 14.9 s at sf0.1, 3× the next-slowest query.
  * Checkpointed inputs turn each iteration into join + agg over cached
  * blocks, and a further lineage cut every few iterations keeps analysis
  * time flat at high iteration counts (under `spark.graft.materialize=disk`
  * a durable `checkpoint` plays the same role).
  */
object Graph {

  /** Symmetrize + dedupe an edge list (simple undirected graph: both
    * directions present, no self-loops, no multi-edges).
    */
  def undirected(edges: DataFrame): DataFrame = {
    val e = edges.toDF("src", "dst").where(col("src") =!= col("dst"))
    e.union(e.select(col("dst").as("src"), col("src").as("dst"))).distinct()
  }

  /** Per-node degree of an undirected edge list (one exchange on src). */
  def degrees(edges: DataFrame): DataFrame =
    edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("degree"))

  /** Fixed-iteration PageRank with damping `d` over an UNDIRECTED edge
    * list ([[undirected]] output). Every node has degree >= 1, so there are
    * no dangling nodes and mass is conserved exactly:
    *
    *   pr_0(v)   = 1/N
    *   pr_i+1(v) = (1-d)/N + d * sum_{u->v} pr_i(u)/deg(u)
    *
    * Returns (node, pr). Each iteration shuffles once on dst for the
    * contribution sum; the degree table joins in broadcast (node count <<
    * edge count), and the teleport scalar 1/N rides a broadcast
    * one-row cross join, keeping the whole computation declarative.
    */
  def pagerank(edges: DataFrame, iters: Int = 5, d: Double = 0.85): DataFrame = {
    // Materialize the iteration-invariant relations ONCE. A pure foldLeft
    // plan re-planned and RE-EXECUTED the whole edge derivation per round
    // (round 6: 415 physical nodes, parquet scans appearing 10+ times,
    // 14.9 s — the slowest query by 3×).
    //   eDeg  (src, dst, degree) — ONE heavy materialization: the per-edge
    //         degree (iteration-constant) comes from a whole-partition
    //         window count riding the SAME hash-on-src exchange that
    //         co-locates the edges. (r21 correction: under AQE the
    //         checkpointed relation comes back as an ExistingRDD with
    //         UnknownPartitioning — the r9 claim that LogicalRDD preserves
    //         the hash-on-src layout no longer holds, verified in the
    //         q_ppr_seeds plan dump — so each round re-exchanges the edge
    //         relation; the SHJ hint below at least stops re-SORTING it.
    //         A persist()-based eDeg was measured as the alternative and
    //         rejected: AQE-compiled cached plans don't expose the
    //         partitioning either and the InMemoryTableScan added ~60%
    //         wall — 3.27 s vs 2.05 s on the PPR shape.)
    //
    //         Measured round 9 (sf0.1, isolated 3-run): the hedge the r8
    //         audit suggested — partial-agg groupBy(src).count + join
    //         instead of the window — runs 2× SLOWER (7.9 s vs 3.95 s):
    //         the edge derivation executes once per consumer (degree agg
    //         + join), and a broadcast degree join loses the hash-on-src
    //         output partitioning, so every iteration re-shuffles the
    //         edge relation. The hub-straggler risk the window carries is
    //         INHERENT to materializing edges hash-partitioned by src
    //         (the co-location strategy itself): a 10^7-degree hub lands
    //         in one task under either form, and WindowExec spills via
    //         UnsafeExternalSorter, so the window adds only a disk-backed
    //         count to the task that already writes that hub's edges.
    //         Kept deliberately; revisit only if the one-time build, not
    //         the iterations, ever dominates on a real hub-heavy graph.
    //   deg   node-sized degree table off the cached edges (init + scalars).
    import org.apache.spark.sql.expressions.Window
    val eDeg = edges
      .withColumn("degree", count(lit(1)).over(Window.partitionBy(col("src"))))
      .pin()
    val deg = eDeg
      .groupBy(col("src").as("node"))
      .agg(first(col("degree")).as("degree"))
      .pin()
    val n1 = broadcast(deg.agg(count(lit(1)).cast("double").as("n")))
    val init = deg
      .crossJoin(n1)
      .select(col("node"), (lit(1.0) / col("n")).as("pr"))
    (1 to iters).foldLeft(init) { (pr, i) =>
      // r21 (guide §3.1): the contribution join runs as a SHUFFLED HASH
      // join built on the NODE-sized rank side — sort-merge re-SORTED the
      // edge relation every round (the checkpointed eDeg comes back as an
      // ExistingRDD with UnknownPartitioning under AQE, so its hash-on-src
      // layout is invisible to the planner and each round pays exchange +
      // sort on the big side; the hash build streams the edges unsorted).
      // Node-sized-per-partition build is the SHJ contract at any scale.
      // Measured (isolated PPR A/B, same shape): 1.98 → 1.13 s.
      val next = eDeg
        .join(pr.withColumnRenamed("node", "src").hint("shuffle_hash"), Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("pr") / col("degree")).as("mass"))
        .crossJoin(n1)
        .select(col("node"), ((lit(1.0) - d) / col("n") + lit(d) * col("mass")).as("pr"))
      // cut lineage periodically so analysis/codegen stay O(1) per round at
      // high iteration counts; the final iteration stays lazy for the caller
      if (i % 5 == 0 && i < iters) next.pin() else next
    }
  }

  /** Personalized PageRank: teleport lands on a SEED SET instead of
    * uniformly — the "proximity to these nodes" ranking behind
    * related-item suggestion, seed-expanded crawl curation ("find more
    * hosts like these known-good ones"), and local community scoring:
    *
    *   ppr_0(v)   = 1_{v∈S}/|S|
    *   ppr_i+1(v) = (1-d)·1_{v∈S}/|S| + d · Σ_{u→v} ppr_i(u)/deg(u)
    *
    * Same fixed-iteration declarative shape as [[pagerank]] (undirected
    * edges, no dangling nodes, one rank-relation shuffle per round over
    * the once-materialized eDeg): the only new iteration-invariant is the
    * teleport vector, node-sized, materialized once and joined per round.
    * Returns (node, ppr) for every node; non-seeds far from S go to ~0.
    */
  def personalizedPagerank(
      edges: DataFrame,
      seeds: DataFrame,
      iters: Int = 5,
      d: Double = 0.85): DataFrame = {
    // same degree-on-the-edge-exchange materialization as [[pagerank]] —
    // see the measured justification there for why the window beats the
    // groupBy+join hedge (2× at sf0.1, and the join form re-shuffles
    // edges every round)
    import org.apache.spark.sql.expressions.Window
    val eDeg = edges
      .withColumn("degree", count(lit(1)).over(Window.partitionBy(col("src"))))
      .pin()
    val deg = eDeg
      .groupBy(col("src").as("node"))
      .agg(first(col("degree")).as("degree"))
      .pin()
    val seedSet = seeds.toDF("node").distinct()
    val ns = broadcast(seedSet.agg(count(lit(1)).cast("double").as("ns")))
    val tele = deg
      .join(broadcast(seedSet.withColumn("__s", lit(1))), Seq("node"), "left_outer")
      .crossJoin(ns)
      .select(col("node"),
        (when(col("__s").isNotNull, lit(1.0)).otherwise(lit(0.0)) / col("ns")).as("tele"))
      .pin()
    val init = tele.select(col("node"), col("tele").as("pr"))
    (1 to iters).foldLeft(init) { (pr, i) =>
      // same SHJ-on-the-node-side repair as [[pagerank]] (measured there)
      val next = eDeg
        .join(pr.withColumnRenamed("node", "src").hint("shuffle_hash"), Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("pr") / col("degree")).as("mass"))
        .join(tele.hint("shuffle_hash"), Seq("node"))
        .select(col("node"), ((lit(1.0) - d) * col("tele") + lit(d) * col("mass")).as("pr"))
      if (i % 5 == 0 && i < iters) next.pin() else next
    }
  }

  /** [[personalizedPagerank]] rounded for the hash compare (6 dp, same
    * rationale as [[pagerankRounded]]).
    */
  def personalizedPagerankRounded(
      edges: DataFrame, seeds: DataFrame, iters: Int = 5, d: Double = 0.85): DataFrame =
    personalizedPagerank(edges, seeds, iters, d)
      .select(col("node"), Portable.pround(col("pr"), 6).as("ppr"))

  /** Oriented edge list for triangle counting: one row per undirected edge
    * with src < dst (no symmetrization, no self-loops, deduped).
    */
  def orientedEdges(edges: DataFrame): DataFrame =
    edges.toDF("src", "dst")
      .select(least(col("src"), col("dst")).as("src"), greatest(col("src"), col("dst")).as("dst"))
      .where(col("src") < col("dst"))
      .distinct()

  /** Triangle participation counts: for every node in at least one
    * triangle, the number of triangles through it — the local clustering
    * signal community detection and spam-graph analysis start from.
    * Input is ANY (src, dst) edge relation; orientation happens inside.
    *
    * Scale design: the classic oriented-wedge plan. Each triangle
    * {a,b,c}, a<b<c, is found EXACTLY ONCE as wedge (a→b, a→c), b<c,
    * closed by edge (b→c) — two equi-joins on the oriented edge list, no
    * symmetrized 2|E| blowup, no counting each triangle 6 ways. The wedge
    * count is Σ deg⁺(v)², the quantity degree-ordering orientation
    * minimizes at web scale (orient by (degree, id) instead of raw id and
    * the same plan holds — high-degree hubs then have small out-degree).
    * The closing join is a semi-join: wedges stream against the edge set
    * without materializing non-triangles.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    // The oriented edge list is referenced THREE times (both wedge legs +
    // the closing semi-join); left lazy, the whole upstream edge
    // derivation would be re-planned and re-executed per reference
    // (round 7's first audit: a 650-node plan scanning the input tables
    // 3x). Materialize once — the [[pagerank]] / Dedup.duplicateGroups
    // pattern.
    val e = orientedEdges(edges).pin()
    triangleCountsOriented(e)
  }

  /** [[triangleCounts]] body over an ALREADY oriented+deduped (and
    * materialized) src<dst edge list — shared with
    * [[clusteringCoefficients]] so both legs (degrees and triangles)
    * derive from the SAME canonical relation.
    */
  private def triangleCountsOriented(e: DataFrame): DataFrame = {
    val wedges = e.select(col("src").as("a"), col("dst").as("b"))
      .join(e.select(col("src").as("a"), col("dst").as("c")), Seq("a"))
      .where(col("b") < col("c"))
    val tris = wedges.join(
      e.select(col("src").as("b"), col("dst").as("c")), Seq("b", "c"), "left_semi")
    tris
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_tri"))
  }

  /** Local clustering coefficient per node (Watts & Strogatz, Nature
    * 1998): C(v) = 2·tri(v) / (deg(v)·(deg(v)−1)) — what fraction of a
    * node's neighbor pairs are themselves connected. [[triangleCounts]]'
    * normalized sibling and the standard "is this graph clumpy or
    * stringy" per-node dial (near-dup brand/entity graphs are clumpy;
    * citation chains are stringy). Degrees come from one explode-agg
    * over [[orientedEdges]] — the SAME deduped src<dst relation the
    * triangle legs join on (r13 advice: deriving degrees from the raw
    * input silently inflated cc_r for duplicated / bidirectional /
    * self-loop edge lists, while triangles dedup internally — now both
    * honor the any-edge-relation contract). The oriented list is
    * checkpointed once and feeds both legs; triangles reuse the
    * oriented-wedge join; nodes with deg < 2 have no neighbor pair and
    * are dropped (C undefined), zero-triangle nodes keep C = 0 via the
    * left join.
    *
    * Returns (node, deg, n_tri, cc_r).
    */
  def clusteringCoefficients(edges: DataFrame): DataFrame = {
    val e = orientedEdges(edges).pin()
    val deg = e
      .select(explode(array(col("src"), col("dst"))).as("node"))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("deg"))
    deg
      .join(triangleCountsOriented(e), Seq("node"), "left_outer")
      .na.fill(0L, Seq("n_tri"))
      .where(col("deg") >= 2)
      .select(col("node"), col("deg"), col("n_tri"),
        graft.functions.Portable.pround(
          lit(2.0) * col("n_tri") / (col("deg").cast("double") * (col("deg") - 1)), 6)
          .as("cc_r"))
  }

  /** Community detection by synchronous label propagation (Raghavan,
    * Albert & Kumara, Phys. Rev. E 76(3), 2007) with the self-vote
    * stabilizer: every round each node adopts the plurality label among
    * its neighbors PLUS ITS OWN current label, ties broken by smallest
    * label. The self-vote is load-bearing, not a flourish: pure
    * synchronous LPA provably falls into 2-cycles on bipartite structure
    * — measured on the sf0.01 customer–supplier graph, all 1600 nodes
    * flip between two standing label sets every round, forever — while
    * the self-inclusive vote reached a fixpoint on the same graph in 5
    * rounds. Every quantity is an integer vote count and the argmax
    * order (votes DESC, label ASC) is total, so the fixed-iteration
    * result is deterministic and replays exactly cross-engine.
    *
    * Scale shape = [[pagerank]]'s: the symmetrized edge list is
    * materialized ONCE (hash-partitioned by dst via the checkpoint);
    * each round shuffles only the node-sized label relation into the
    * contribution join, partial aggregation collapses the per-(node,
    * label) votes map-side before the exchange, and the plurality pick
    * is a PARTITIONED window (per node) — never a global sort. Label
    * payloads stay node-id-sized; nothing key-cardinality-sized ever
    * sits on the driver.
    *
    * Accepts ANY (src, dst) edge relation — symmetrization + self-loop/
    * multi-edge dedup happen inside (the [[clusteringCoefficients]]
    * any-edge-relation contract). Returns (node, label) after `iters`
    * rounds; label is the community representative's node id.
    */
  def labelPropagation(edges: DataFrame, iters: Int = 5): DataFrame = {
    require(iters >= 1, s"iters ($iters) must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val e = undirected(edges).pin()
    val init = e.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
      .pin()
    (1 to iters).foldLeft(init: DataFrame) { (lab, i) =>
      val votes = e
        // NO shuffle-hash hint here (measured +0.4 s): the label relation
        // is small enough that AQE converts this to a runtime broadcast
        // join, which the hint would forbid — see the [[pagerank]] note
        .join(lab.withColumnRenamed("node", "dst").withColumnRenamed("label", "nl"),
          Seq("dst"))
        .select(col("src").as("node"), col("nl"))
        .unionAll(lab.select(col("node"), col("label").as("nl")))
      // r20: the per-node argmax (votes DESC, nl ASC) as ONE min_by
      // partial aggregate over the lexicographic key (−votes, nl) —
      // bit-identical winner to the former row_number window (counts are
      // unique per (node, nl)), without the window's per-iteration
      // partition sort; min_by rides a hash aggregate with map-side
      // partial merge (guide §2.4: aggregate instead of window when the
      // window only selects one row per key)
      val next = votes
        .groupBy(col("node"), col("nl"))
        .agg(count(lit(1)).as("__votes"))
        .groupBy(col("node"))
        .agg(min_by(col("nl"), struct((-col("__votes")).as("nv"), col("nl"))).as("label"))
      // cut lineage periodically (the [[pagerank]] discipline) so the
      // final audited plan stays a bounded two-round chain
      if (i % 3 == 0 && i < iters) next.pin() else next
    }
  }

  /** The k-core: the maximal subgraph in which every node keeps degree
    * >= k (Seidman, "Network structure and minimum degree", Social
    * Networks 1983) — the standard dense-backbone extraction used to
    * strip leaf/fringe nodes before expensive graph analysis, and the
    * robustness dial for crawl-host curation ("keep hosts embedded in a
    * mutually-linked core, drop dangling ones"). Computed by iterative
    * peeling: drop nodes with degree < k, recompute degrees on the
    * induced subgraph, repeat — each peel can cascade (removing a fringe
    * node drops its neighbor below k), measured 4 cascading peels at
    * k=4 on the sf0.01 same-nation trade graph.
    *
    * `rounds` is fixed for the declarative unroll (the [[pagerank]]
    * fixed-iteration discipline); peeling is MONOTONE — once the edge
    * set stops changing every further round is the identity — so a
    * caller certifies convergence by checking rounds vs rounds+1 (the
    * spec does, on both shipped corpora). Per round: one partial-agg
    * degree count plus two semi-joins against the node-sized survivor
    * set (broadcastable on any graph whose node list fits an executor;
    * AQE picks the shuffle form otherwise). The induced edge relation is
    * re-materialized per round — inherent to subtractive peeling.
    *
    * Returns (node, deg): the surviving nodes with their core degrees.
    */
  def kCore(edges: DataFrame, k: Int, rounds: Int = 6): DataFrame = {
    require(k >= 1, s"k ($k) must be >= 1")
    require(rounds >= 1, s"rounds ($rounds) must be >= 1")
    var e = undirected(edges).pin()
    // count-fixpoint early exit (the [[kTruss]] discipline): peeling is
    // subtractive, so an unchanged edge count means no node fell below k —
    // every further round is an identical no-op recompute. One cheap
    // count() per round on a pinned relation buys skipping them.
    var prev = e.count()
    var converged = false
    for (_ <- 1 to rounds if !converged) {
      e = kCorePeel(e, k).pin()
      val c = e.count()
      converged = c == prev
      prev = c
    }
    e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
  }

  /** One peel round of [[kCore]] over an already symmetrized+deduped
    * edge relation — the representative-iteration plan the audit checks
    * (the real loop hides each round behind a checkpoint).
    */
  def kCorePeel(e: DataFrame, k: Int): DataFrame = {
    val keep = e.groupBy(col("src")).agg(count(lit(1)).as("__d"))
      .where(col("__d") >= k)
      .select(col("src"))
    // no SHJ hint (measured +0.96 s): AQE broadcast-converts the
    // node-sized survivor semi-joins at runtime; the hint would forbid it
    e.join(keep, Seq("src"), "left_semi")
      .join(keep.withColumnRenamed("src", "dst"), Seq("dst"), "left_semi")
      .select(col("src"), col("dst"))
  }

  /** k-truss membership (Cohen, NSA TR 2008; the triangle-reinforced
    * cousin of [[kCore]]): the maximal subgraph in which every edge
    * closes at least k−2 triangles — iterative SUPPORT peel, the
    * community-core extractor that survives the hub-spamming k-core
    * falls for (a star has high core number but zero triangles).
    *
    * Per round: one [[edgeSupport]] pass (the oriented-wedge triangle
    * plan — two equi-joins on the oriented edge list, each triangle
    * found once, no symmetrized blowup) and one filter; each round
    * checkpoints so the plan never deepens ([[kCore]]'s fixed-rounds
    * certification pattern — rounds ≥ the peel cascade depth ⇒
    * fixpoint, certified by the spec at test scale). Output recomputes
    * support ON the surviving truss so every row carries its final
    * triangle count.
    *
    * Returns (src, dst, support) over oriented (src < dst) surviving
    * edges.
    */
  def kTruss(edges: DataFrame, k: Int, rounds: Int = 4): DataFrame =
    kTrussCertified(edges, k, rounds)._1

  /** [[kTruss]] plus its convergence certificate: the returned flag is
    * true iff some peel round removed no edge (a certified fixpoint — the
    * output IS the k-truss), false when all `rounds` rounds still peeled
    * (the output may be a strict superset: surviving edges can carry
    * support below k−2, as GraphSpec's rounds=1 case shows). Exposing the
    * flag lets callers distinguish "certified" from "truncated" instead of
    * only the spec certifying fixpoints at test scale. The loop is
    * eagerly evaluated (one count() per checkpointed round), so the flag
    * is exact at return time, not a lazy promise.
    */
  def kTrussCertified(
      edges: DataFrame, k: Int, rounds: Int = 4): (DataFrame, Boolean) = {
    require(k >= 3, s"k ($k) must be >= 3 (k=2 is the whole graph)")
    require(rounds >= 1, s"rounds ($rounds) must be >= 1")
    var o = orientedEdges(edges).pin()
    // convergence early-exit: a peel that removes nothing is a fixpoint,
    // and every further round would recompute the identical support
    // relation (the oracle's fixed-rounds unroll is idempotent past the
    // fixpoint, so stopping early cannot change the output — it only
    // skips the sweep's most expensive no-op joins). One cheap count()
    // per round on a checkpointed relation buys it.
    var prev = o.count()
    var converged = false
    for (_ <- 1 to rounds if !converged) {
      o = kTrussPeel(o, k).pin()
      val c = o.count()
      converged = c == prev
      prev = c
    }
    // left join: a not-yet-converged straggler with zero support must
    // surface as support 0, not silently vanish from the readout
    val out = o.join(edgeSupport(o), Seq("src", "dst"), "left_outer")
      .na.fill(0L, Seq("support"))
      .select(col("src"), col("dst"), col("support"))
    (out, converged)
  }

  /** One support peel round over an oriented (src < dst) edge relation —
    * the representative-iteration plan the audit checks.
    */
  def kTrussPeel(o: DataFrame, k: Int): DataFrame =
    edgeSupport(o).where(col("support") >= k - 2).select(col("src"), col("dst"))

  /** Per-edge triangle support of an oriented edge list: each triangle
    * {a<b<c} is enumerated EXACTLY ONCE as the oriented wedge (a→b, a→c),
    * b<c, closed by a left-semi probe of (b→c) — the [[triangleCounts]]
    * plan — then credits its three edges through a union + partial-agg
    * count. Wedge volume is Σ outdeg² of the ORIENTED list (the quantity
    * degree-orientation minimizes), not the Σ deg² of a symmetrized
    * adjacency: on the clique-heavy projection graphs trusses run over,
    * the symmetric two-sided wedge join this replaces measured ~4× the
    * intermediate (q_ktruss 40.2 s → see SURVEY §6). INNER shape:
    * zero-support edges are absent (callers left-join the spine back).
    */
  def edgeSupport(o: DataFrame): DataFrame = {
    val tris = o.select(col("src").as("__a"), col("dst").as("__b"))
      .join(o.select(col("src").as("__a"), col("dst").as("__c")), Seq("__a"))
      .where(col("__b") < col("__c"))
      .join(o.select(col("src").as("__b"), col("dst").as("__c")),
        Seq("__b", "__c"), "left_semi")
    // r20: one explode instead of a three-branch union — each union
    // branch RE-EXECUTED the wedge join + closing semi-join (3× the
    // round's dominant work; [[triangleCountsOriented]] already uses the
    // explode shape). Same credit multiset, same counts.
    tris
      .select(explode(array(
        struct(col("__a").as("src"), col("__b").as("dst")),
        struct(col("__a").as("src"), col("__c").as("dst")),
        struct(col("__b").as("src"), col("__c").as("dst")))).as("__e"))
      .groupBy(col("__e.src").as("src"), col("__e.dst").as("dst"))
      .agg(count(lit(1)).as("support"))
  }

  /** One-mode customer projection of the same-nation trade graph: an
    * edge joins two customers who share at least one same-nation
    * supplier (Newman, "Scientific collaboration networks" PRE 2001 —
    * the standard bipartite→unipartite projection). Projections are
    * where bipartite graphs GET their triangles (three customers on one
    * supplier close instantly), which makes this the natural input for
    * [[kTruss]]/[[triangleCounts]] where the raw bipartite relation has
    * none by parity.
    *
    * Scale note: the fan-out is QUADRATIC in supplier degree (a degree-d
    * supplier mints d(d−1)/2 pairs) and supplier degree GROWS with
    * corpus scale (measured: median 19 → 23, Σd(d−1)/2 18.8k → 279k
    * from sf0.01 → sf0.1) — the classic projection hazard. `maxDeg`
    * therefore caps it the [[Dedup]] hot-bucket way: suppliers above
    * the cap are EXCLUDED from the projection (a hub shared by everyone
    * carries no community signal anyway — same argument as a stop
    * shingle), bounding the expansion to maxDeg²/2 per supplier, linear
    * in suppliers. The cut is never silent: `dropAudit` observes how
    * many suppliers were dropped and the pair mass they would have
    * minted. Returns one row per distinct oriented (src < dst) customer
    * pair.
    */
  def coSupplierEdges(
      orders: DataFrame,
      lineitem: DataFrame,
      customer: DataFrame,
      supplier: DataFrame,
      maxDeg: Int = Int.MaxValue,
      dropAudit: Option[org.apache.spark.sql.Observation] = None): DataFrame =
    coSupplierProjection(
      sameNationEdges(orders, lineitem, customer, supplier), maxDeg, dropAudit)

  /** [[coSupplierEdges]] with LONG node keys — the [[sameNationEdgesNum]]
    * tagging (customer ck → +(ck+1); only customer nodes survive the
    * projection). The projection's pair set is orientation-convention-free
    * (an unordered pair is emitted once under ANY strict total order on
    * the keys), so callers that declare string output re-orient with
    * least/greatest on the [[csNodeStr]]-reconstructed ids.
    */
  def coSupplierEdgesNum(
      orders: DataFrame,
      lineitem: DataFrame,
      customer: DataFrame,
      supplier: DataFrame,
      maxDeg: Int = Int.MaxValue,
      dropAudit: Option[org.apache.spark.sql.Observation] = None): DataFrame =
    coSupplierProjection(
      sameNationEdgesNum(orders, lineitem, customer, supplier), maxDeg, dropAudit)

  /** Shared projection core over a directed bipartite (src=customer,
    * dst=supplier) edge relation of either key type.
    */
  private def coSupplierProjection(
      bip: DataFrame,
      maxDeg: Int,
      dropAudit: Option[org.apache.spark.sql.Observation]): DataFrame = {
    require(maxDeg >= 2, s"maxDeg ($maxDeg) must be >= 2")
    val b = bip.pin()
    val deg = b.groupBy(col("dst")).agg(count(lit(1)).as("__deg"))
    val audited = dropAudit match {
      case Some(obs) =>
        deg.observe(obs,
          count(when(col("__deg") > maxDeg, 1)).as("n_suppliers_dropped"),
          // pair mass through decimal(38,0): Spark's Divide on integral
          // inputs goes through double, which loses exactness above ~2^26.5
          // — deg·(deg−1) is always even so the decimal division is exact
          coalesce(sum(when(col("__deg") > maxDeg,
            (col("__deg").cast("decimal(38,0)") * (col("__deg") - 1) / 2)
              .cast("long"))), lit(0L))
            .as("n_pairs_dropped"))
      case None => deg
    }
    val keep = audited.where(col("__deg") <= maxDeg).select(col("dst"))
    val b2 = b.join(keep, Seq("dst"), "left_semi")
    b2.join(b2.select(col("src").as("__b"), col("dst")), Seq("dst"))
      .where(col("src") < col("__b"))
      .select(col("src"), col("__b").as("dst"))
      .distinct()
  }

  /** The same-nation customer–supplier trade graph: [[customerSupplierEdges]]
    * restricted to line items whose supplier sits in the customer's own
    * nation — 25 nation-local subgraphs, SPARSE (median degree ~3 at
    * sf0.01 vs 33 unrestricted), which is what community/peeling demos
    * need: the unrestricted bipartite graph is one dense component
    * ([[labelPropagation]] correctly collapses it to a single community;
    * [[kCore]] peels in one round), while the nation-restricted graph
    * has genuine sparse structure (51 LPA communities at 5 rounds, a
    * 4-deep peel cascade at k=4). The customer and supplier dims ride
    * broadcast joins; the edge dedup runs on integer key pairs before
    * the string node ids are minted (the [[customerSupplierEdges]]
    * byte-economy argument). Returns one row per DIRECTED (c→s) edge;
    * consumers symmetrize.
    */
  def sameNationEdges(
      orders: DataFrame,
      lineitem: DataFrame,
      customer: DataFrame,
      supplier: DataFrame): DataFrame =
    sameNationPairs(orders, lineitem, customer, supplier)
      .select(concat(lit("c"), col("ck")).as("src"), concat(lit("s"), col("sk")).as("dst"))

  /** [[sameNationEdges]] with LONG node keys — customer ck → +(ck+1),
    * supplier sk → −(sk+1), the [[customerSupplierEdgesNum]] tagging (see
    * there for the byte-economy and shift-by-1 rationale). Directed c→s,
    * one row per distinct pair, like the string form.
    */
  def sameNationEdgesNum(
      orders: DataFrame,
      lineitem: DataFrame,
      customer: DataFrame,
      supplier: DataFrame): DataFrame =
    sameNationPairs(orders, lineitem, customer, supplier)
      .select((col("ck") + 1).cast("long").as("src"),
        (-(col("sk") + 1)).cast("long").as("dst"))

  /** Shared integer-pair core of [[sameNationEdges]]/[[sameNationEdgesNum]]:
    * one row per distinct same-nation (ck, sk) trade pair.
    */
  private def sameNationPairs(
      orders: DataFrame,
      lineitem: DataFrame,
      customer: DataFrame,
      supplier: DataFrame): DataFrame =
    orders
      .join(lineitem, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(customer.select(col("c_custkey"), col("c_nationkey"))),
        col("c_custkey") === col("o_custkey"))
      .join(broadcast(supplier.select(col("s_suppkey"), col("s_nationkey"))),
        col("s_suppkey") === col("l_suppkey"))
      .where(col("c_nationkey") === col("s_nationkey"))
      .select(col("o_custkey").as("ck"), col("l_suppkey").as("sk"))
      .distinct()

  /** The brand co-occurrence graph: two part brands are linked when some
    * order contains line items of both — the "products bought together"
    * projection of the order bipartite graph, and a natural triangle-rich
    * demo graph (the customer–supplier graph is bipartite, so its triangle
    * count is identically zero). Per-order brand sets are tiny (≤ brand
    * cardinality), so the within-order pair join is bounded; the distinct
    * collapses to the brand-pair vocabulary before any triangle work.
    */
  def brandCooccurrenceEdges(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val ob = lineitem
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("ok"), col("p_brand").as("brand"))
      .distinct()
    ob.select(col("ok"), col("brand").as("src"))
      .join(ob.select(col("ok"), col("brand").as("dst")), Seq("ok"))
      .where(col("src") < col("dst"))
      .select(col("src"), col("dst"))
      .distinct()
  }

  /** The demo graph for the oracle queries: the bipartite customer–supplier
    * relation (an order's customer bought from each of its line items'
    * suppliers), symmetrized. Node ids carry a c/s prefix so the two key
    * spaces can't collide.
    *
    * Bipartite fast path instead of the generic [[undirected]]: the
    * distinct runs on the (custkey, suppkey) INTEGER pairs — half the rows
    * and a fraction of the bytes of deduping the symmetrized string edge
    * list — and the post-union distinct is dropped entirely, because with
    * disjoint "c"/"s" prefixes a forward edge can never collide with a
    * swapped one (self-loops are impossible for the same reason).
    */
  def customerSupplierEdges(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val e0 = customerSupplierPairs(orders, lineitem)
    e0.select(concat(lit("c"), col("ck")).as("src"), concat(lit("s"), col("sk")).as("dst"))
      .unionAll(
        e0.select(concat(lit("s"), col("sk")).as("src"), concat(lit("c"), col("ck")).as("dst")))
  }

  /** [[customerSupplierEdges]] with LONG node keys (r21, guide §2.3 —
    * narrower types): customer ck → +(ck+1), supplier sk → −(sk+1). The
    * iterative operators shuffle/checkpoint the node key every round, so
    * its representation is the family's byte currency — a fixed 8-byte
    * long vs a variable "c%d"/"s%d" UTF8String halves the exchange bytes
    * and replaces string hashing/ordering with integer ops. Both keys are
    * ≥ 0 in the corpus, so after the +1 shift the SIGN is a lossless
    * bipartite tag (key 0 exists; a bare sign tag would merge customer 0
    * with supplier 0). Callers reconstruct the declared string ids with
    * [[csNodeStr]] AFTER the fixpoint — grouping/joins are isomorphic
    * under the relabeling, so results are unchanged.
    */
  def customerSupplierEdgesNum(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val e0 = customerSupplierPairs(orders, lineitem)
    val c = (col("ck") + 1).cast("long")
    val s = (-(col("sk") + 1)).cast("long")
    e0.select(c.as("src"), s.as("dst"))
      .unionAll(e0.select(s.as("src"), c.as("dst")))
  }

  /** Shared integer-pair core: one row per distinct (ck, sk) trade pair. */
  private def customerSupplierPairs(orders: DataFrame, lineitem: DataFrame): DataFrame =
    orders
      .join(lineitem, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("ck"), col("l_suppkey").as("sk"))
      .distinct()

  /** Reconstruct the declared "c%d" / "s%d" string node id from a
    * [[customerSupplierEdgesNum]]-tagged long key.
    */
  def csNodeStr(node: Column): Column =
    when(node > 0, concat(lit("c"), node - 1))
      .otherwise(concat(lit("s"), -node - 1))

  /** PageRank rounded for the hash compare: summation order across an
    * exchange is engine-chosen, so scores are rounded to 6 dp on both
    * sides (values sit at ~1/N ≈ 1e-3/1e-4; fp noise is ~1e-15).
    */
  def pagerankRounded(edges: DataFrame, iters: Int = 5, d: Double = 0.85): DataFrame =
    pagerank(edges, iters, d)
      .select(col("node"), Portable.pround(col("pr"), 6).as("pr"))

  /** HITS hubs & authorities (Kleinberg, JACM 1999) over a DIRECTED edge
    * relation: per round, auth(v) = Σ_{u→v} hub(u) then hub(u) =
    * Σ_{u→v} auth(v) (the updated auth, per the original algorithm),
    * each L1-normalized. The eigenvector pair PageRank can't express:
    * PageRank scores a node for being POINTED AT through random-walk
    * mass; HITS separates "points at good things" (hub) from "is pointed
    * at by good hubs" (authority) — on a directed customer→supplier
    * graph that's breadth-of-buying vs being-bought-by-broad-buyers.
    *
    * Scale shape = [[pagerank]]'s: the edge relation is materialized
    * ONCE; each half-round shuffles only the node-sized score relation
    * through the contribution join + partial-agg sum. Scores are
    * L1-normalized ONCE at the end (see hitsImpl for why that is exactly
    * the per-round-normalized result); nodes on one side only (pure
    * sources / pure sinks) surface with score 0, not dropped.
    *
    * Returns (node, hub_r, auth_r), 6-dp rounded.
    */
  def hits(edges: DataFrame, iters: Int = 3): DataFrame =
    hitsImpl(edges.select(col("src"), col("dst")).pin(), iters)

  private def hitsImpl(e: DataFrame, iters: Int): DataFrame = {
    val nodes = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node")))
      .distinct()
      .pin()
    // HITS is scale-invariant: L1-normalizing every half-round (the
    // textbook overflow guard) multiplies each vector by a positive
    // scalar that the NEXT sum carries along and the FINAL normalization
    // divides back out — so iterating UNNORMALIZED and normalizing once
    // at the end yields the identical scores. The payoff is structural:
    // every intermediate value is an INTEGER-VALUED sum (exact in
    // doubles, deterministic under any partial-agg order), the loop is a
    // LAZY chain like pagerank's (each half-round consumed exactly once
    // by the next), and only the two FINAL vectors materialize — two
    // eager jobs instead of two per round. Measured head-to-head at
    // sf0.1/iters=3: ~2.2× faster cold (12.9 → 5.9 s), ~5% warm (5.5 →
    // 5.2 s — the edge derivation dominates warm); the determinism
    // upgrade (no float division inside the loop) is the bigger win.
    var hub = nodes.withColumn("hub", lit(1.0))
    var auth: DataFrame = null
    for (r <- 1 to iters) {
      // SHJ built on the node-sized score side (the [[pagerank]] repair)
      auth = e
        .join(hub.withColumnRenamed("node", "src").hint("shuffle_hash"), Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("hub")).as("auth"))
      if (r == iters) auth = auth.pin()
      hub = e
        .join(auth.withColumnRenamed("node", "dst").hint("shuffle_hash"), Seq("dst"))
        .groupBy(col("src").as("node"))
        .agg(sum(col("auth")).as("hub"))
    }
    val hubF = hub.pin()
    val tots = broadcast(
      hubF.agg(sum(col("hub")).as("__th"))
        .crossJoin(auth.agg(sum(col("auth")).as("__ta"))))
    nodes
      .join(hubF, Seq("node"), "left_outer")
      .join(auth, Seq("node"), "left_outer")
      .crossJoin(tots)
      .select(col("node"),
        Portable.pround(coalesce(col("hub"), lit(0.0)) / col("__th"), 6).as("hub_r"),
        Portable.pround(coalesce(col("auth"), lit(0.0)) / col("__ta"), 6).as("auth_r"))
  }

  /** Multi-source BFS distances: min hop count from a seed set, `rounds`
    * frontier expansions — the reachability/radius primitive under the
    * other iterative operators ([[pagerank]] diffuses mass; this
    * propagates the MIN label, so it's exact, not iterative-to-
    * convergence-in-value). rounds ≥ the graph's seed eccentricity makes
    * the result the true distance (monotone: one extra round is a
    * fixpoint — the [[kCore]] certification pattern).
    *
    * Per round: one edge join against the reached relation + one
    * partial-agg min — the pagerank two-shuffle shape, each round
    * checkpointed so lineage stays flat. All-integer labels; unreached
    * nodes are ABSENT (not ∞), keeping the output frontier-sized.
    *
    * Returns (node, dist) ordered by node.
    */
  def bfsDistances(edges: DataFrame, seeds: Seq[Any], rounds: Int = 6): DataFrame = {
    require(seeds.nonEmpty, "need at least one seed")
    require(rounds >= 1, s"rounds ($rounds) must be >= 1")
    val e = undirected(edges).pin()
    var dist = e
      .where(col("src").isin(seeds: _*))
      .select(col("src").as("node")).distinct()
      .withColumn("dist", lit(0L))
      .pin()
    // count-fixpoint early exit: layer-by-layer min-label expansion reaches
    // every node at its TRUE distance the first time it appears, so a round
    // that adds no node changes nothing — an unchanged row count certifies
    // the fixpoint (the [[kTruss]] discipline, additive instead of
    // subtractive).
    var prev = dist.count()
    var converged = false
    for (_ <- 1 to rounds if !converged) {
      val next = e
        // no SHJ hint: AQE broadcast-converts the tiny frontier (see LPA)
        .join(dist.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"), (col("dist") + 1L).as("dist"))
      dist = dist.unionAll(next)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
        .pin()
      val c = dist.count()
      converged = c == prev
      prev = c
    }
    dist.orderBy("node")
  }

  /** Degree assortativity coefficient (Newman, Phys. Rev. Lett. 2002): the
    * Pearson correlation of endpoint degrees over the symmetrized edge
    * list — "do hubs link to hubs" in one number (r > 0: social-network-
    * like degree mixing; r < 0: hub-and-spoke). Canonicalizes through
    * [[undirected]] first (the [[clusteringCoefficients]] any-edge-relation
    * contract — duplicated/directed/self-loop inputs are repaired, not
    * silently double-counted). On the symmetrized list both endpoint
    * margins coincide, so r = (mΣjk − (Σj)²) / (mΣj² − (Σj)²) from exact
    * integer sums: degrees are integers, every product rides a decimal
    * sum, and the final ratio is one fixed-order scalar expression.
    *
    * One exchange for degrees, two degree joins (node-sized relation —
    * shuffle-joined; at corpus scale the node table exceeds broadcast
    * range, and AQE may still elect broadcast when it fits), one
    * partial-agg reduction to a single row (m, r_r); r reads NULL on a
    * degree-regular graph (zero variance).
    */
  /** Adamic–Adar link prediction (Adamic & Adar, Social Networks 2003):
    * for each NON-adjacent pair (u, v) sharing at least one neighbor,
    * AA(u,v) = Σ_{z ∈ N(u)∩N(v)} 1/ln(deg z) — common neighbors weighted
    * down by how promiscuous they are (a shared rare counterparty is
    * evidence; a shared hub is not). The top-k pairs are the "these two
    * will trade next" shortlist. A common neighbor of two distinct nodes
    * has degree ≥ 2, so ln(deg z) > 0 always.
    *
    * Scale discipline: the wedge expansion through z is Σ_z deg(z)² —
    * quadratic in hub degree — so z is restricted to deg ≤ maxHubDegree
    * BEFORE the self-join (mirrored in the oracle, the semantic-filter
    * form of the q_dedup_minhash cap discipline; a hub's 1/ln(deg) terms
    * carry the least signal, which is the estimator's own argument for
    * the cut). Per-pair AA sums combine z-level doubles (the [[Portable]]
    * shuffled-sum caveat); ROUNDED scores then rank with a total (aa_r
    * DESC, u, v) tiebreak through TakeOrdered — no global sort.
    *
    * Returns the top-k rows (u, v, common, aa_r).
    */
  def adamicAdar(
      edges: DataFrame,
      k: Int = 20,
      maxHubDegree: Int = 64): DataFrame = {
    require(k >= 1, s"k ($k) must be >= 1")
    adamicAdarUnlimited(edges, maxHubDegree)
      .orderBy(col("aa_r").desc, col("u"), col("v"))
      .limit(k)
  }

  /** [[adamicAdar]] WITHOUT the final rank/limit: every scored
    * non-adjacent pair (u, v, common, aa_r), u < v under the input's key
    * order. Callers that relabel node keys re-canonicalize and re-rank on
    * the reconstructed ids before their own top-k cut — the pair set and
    * scores are orientation-convention-free.
    */
  def adamicAdarUnlimited(
      edges: DataFrame,
      maxHubDegree: Int = 64): DataFrame = {
    require(maxHubDegree >= 2, s"maxHubDegree ($maxHubDegree) must be >= 2")
    val e = undirected(edges)
    val deg = degrees(e)
    val viaZ = e
      .join(deg.select(col("node").as("src"), col("degree").as("__dz")), Seq("src"))
      .where(col("__dz") <= maxHubDegree)
    val wedges = viaZ.select(col("src").as("__z"), col("dst").as("u"), col("__dz"))
      .join(viaZ.select(col("src").as("__z"), col("dst").as("v")), Seq("__z"))
      .where(col("u") < col("v"))
    wedges
      .join(e.select(col("src").as("u"), col("dst").as("v")), Seq("u", "v"),
        "left_anti")
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("common"),
        sum(lit(1.0) / log(col("__dz").cast("double"))).as("__aa"))
      .select(col("u"), col("v"), col("common"),
        Portable.pround(col("__aa"), 6).as("aa_r"))
  }

  /** Modularity profile of a node partition (Newman & Girvan, Phys. Rev.
    * E 2004): per community c, the within-community edge fraction
    * e_c = in_c/2m against its degree-null expectation (d_c/2m)² —
    * q_contrib = e_c − (d_c/2m)², and Q = Σ_c q_contrib. Positive Q:
    * the partition concentrates edges beyond what degrees alone predict.
    * Labels come from ANY (node, label) relation — a ground-truth
    * attribute (nation), [[labelPropagation]] output, k-means cells.
    *
    * Both endpoints' labels join onto the symmetrized list (node-sized
    * relation, shuffle-joined; AQE may elect broadcast); in_c counts
    * only SAME-label edges, d_c is the label's degree mass — all exact
    * integers on the directed-both-ways list (2m = |edges|), so each
    * community row is a fixed-order scalar. Unlabeled endpoints fall
    * out of the join (reported via the m_total vs labeled mass gap).
    *
    * Returns one row per label (label, n_nodes, d_tot, e_in, q_contrib_r)
    * ordered by label; Q = sum of q_contrib_r.
    */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val e = undirected(edges)
    val lab = labels.toDF("node", "label")
    val tot = broadcast(e.agg(count(lit(1)).as("__m2"))) // 2m, a lazy 1-row scalar
    val labeled = e
      .join(lab.select(col("node").as("src"), col("label").as("__lu")), Seq("src"))
      .join(lab.select(col("node").as("dst"), col("label").as("__lv")), Seq("dst"))
    val m2D = col("__m2").cast("double")
    labeled
      .groupBy(col("__lu").as("label"))
      .agg(
        countDistinct(col("src")).as("n_nodes"),
        count(lit(1)).as("d_tot"),
        sum(when(col("__lu") === col("__lv"), 1L).otherwise(0L)).as("e_in"))
      .crossJoin(tot)
      .select(col("label"), col("n_nodes"), col("d_tot"), col("e_in"),
        Portable.pround(
          col("e_in").cast("double") / m2D -
            (col("d_tot").cast("double") / m2D) * (col("d_tot").cast("double") / m2D),
          6).as("q_contrib_r"))
      .orderBy("label")
  }

  def degreeAssortativity(edges: DataFrame): DataFrame = {
    val e = undirected(edges)
    val deg = degrees(e)
    val joined = e
      .join(deg.select(col("node").as("src"), col("degree").as("__dj")), Seq("src"))
      .join(deg.select(col("node").as("dst"), col("degree").as("__dk")), Seq("dst"))
    val mD = col("m").cast("double")
    val sj = col("__sj").cast("double")
    val num = mD * col("__sjk").cast("double") - sj * sj
    val den = mD * col("__sjj").cast("double") - sj * sj
    joined
      .agg(
        count(lit(1)).as("m"),
        sum(col("__dj").cast("decimal(20,0)") * col("__dk").cast("decimal(20,0)"))
          .as("__sjk"),
        sum(col("__dj").cast("decimal(38,0)")).as("__sj"),
        sum(col("__dj").cast("decimal(20,0)") * col("__dj").cast("decimal(20,0)"))
          .as("__sjj"))
      .select(col("m"),
        Portable.pround(when(den > 0.0, num / den), 6).as("r_r"))
  }

  /** Edge embeddedness (Granovetter's weak-tie dial, AJS 1973; the
    * per-EDGE form of [[clusteringCoefficients]]): for every undirected
    * edge, the number of common neighbors of its endpoints — the
    * triangles THROUGH the edge — plus the neighborhood-Jaccard
    * normalization |N(u)∩N(v)| / |N(u)∪N(v)∖{u,v}| and the LOCAL BRIDGE
    * flag (zero common neighbors: the edge is the only short path
    * between its sides — Granovetter's information conduits, and in a
    * near-dup/co-occurrence graph the edge most likely to be noise).
    * [[triangleCounts]] says how clustered a NODE is; this says how
    * load-bearing an EDGE is.
    *
    * Scale shape: the wedge expansion is one equi-join of the edge list
    * against the symmetrized adjacency through the smaller endpoint
    * (Σ_{(u,v)∈E} deg(u) rows), closed by a second equi-join on
    * (other endpoint, z) — never an open wedge join over all of
    * Σ deg²; at web scale the same plan holds with degree-ordered
    * orientation (route the expansion through each edge's LOWER-degree
    * endpoint). Counts are exact integers, the Jaccard rounds to 6 dp;
    * zero-common edges survive via the left join. Input is ANY (src,
    * dst) edge relation — orientation/dedup happen inside (the
    * [[clusteringCoefficients]] any-edge-relation contract).
    *
    * Returns (src, dst, n_common, jaccard_r, is_bridge) with src < dst;
    * jaccard NULL when both endpoints are degree-1 (empty union).
    */
  def edgeEmbeddedness(edges: DataFrame): DataFrame = {
    // referenced three times (both wedge legs through adj + the edge
    // spine) — materialize once, the triangleCounts discipline
    val e = orientedEdges(edges).pin()
    val adj = e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
    val deg = adj.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    val common = e
      .join(adj.select(col("src"), col("dst").as("z")), Seq("src"))
      .join(adj.select(col("src").as("dst"), col("dst").as("z")), Seq("dst", "z"))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("n_common"))
    val union = col("__du") + col("__dv") - lit(2L) - col("n_common")
    e.join(common, Seq("src", "dst"), "left_outer")
      .na.fill(0L, Seq("n_common"))
      .join(deg.select(col("node").as("src"), col("deg").as("__du")), Seq("src"))
      .join(deg.select(col("node").as("dst"), col("deg").as("__dv")), Seq("dst"))
      .select(col("src"), col("dst"), col("n_common"),
        Portable.pround(
          when(union > 0L, col("n_common").cast("double") / union.cast("double")), 6)
          .as("jaccard_r"),
        (col("n_common") === 0L).as("is_bridge"))
  }

  /** Landmark harmonic closeness (harmonic centrality, Marchiori &
    * Latora 2000 / Boldi & Vigna "Axioms for Centrality" 2014, through
    * the Eppstein–Wang pivot-sampling estimate): ĥ(v) = Σ_ℓ 1/d(ℓ, v)
    * over a FIXED landmark set — "how close to everywhere" ranked
    * without the all-pairs BFS closeness needs (O(L·E) total, the only
    * closeness a 100 TB graph can afford; harmonic rather than classic
    * closeness so disconnected nodes read small, not undefined).
    *
    * Per round ONE edge join against the (landmark, node) frontier +
    * one partial-agg min — [[bfsDistances]] carrying the landmark
    * through the label, so state is ≤ L·N rows with L a constant of
    * the query. Distances are exact integers within `rounds` (monotone
    * min-label: rounds ≥ seed eccentricity ⇒ fixpoint, the [[kCore]]
    * certification pattern). Parity: each 1/d term rounds to 6 dp and
    * 1e6-scales into an exact decimal sum (the logRank discipline —
    * ≤ L doubles per node would still be partial-agg-order exposed),
    * one division at the end. Landmarks absent from the graph
    * contribute nothing; nodes unreached by every landmark are ABSENT.
    *
    * Returns (node, n_reached, harm_r) — n_reached counts landmarks
    * with a finite distance (a landmark reaches itself at d = 0,
    * counted but contributing no mass).
    */
  def landmarkCloseness(
      edges: DataFrame,
      seeds: Seq[Any],
      rounds: Int = 6): DataFrame = {
    require(seeds.nonEmpty, "need at least one landmark")
    require(rounds >= 1, s"rounds ($rounds) must be >= 1")
    val e = undirected(edges).pin()
    var dist = e
      .where(col("src").isin(seeds: _*))
      .select(col("src").as("seed"), col("src").as("node")).distinct()
      .withColumn("dist", lit(0L))
      .pin()
    // same count-fixpoint exit as [[bfsDistances]], on (seed, node) rows
    var prev = dist.count()
    var converged = false
    for (_ <- 1 to rounds if !converged) {
      val next = e
        // no SHJ hint: AQE broadcast-converts the tiny frontier (see LPA)
        .join(dist.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("seed"), col("dst").as("node"), (col("dist") + 1L).as("dist"))
      dist = dist.unionAll(next)
        .groupBy(col("seed"), col("node")).agg(min(col("dist")).as("dist"))
        .pin()
      val c = dist.count()
      converged = c == prev
      prev = c
    }
    dist
      .groupBy(col("node"))
      .agg(
        count(lit(1)).as("n_reached"),
        sum(when(col("dist") > 0L,
          floor(lit(1.0) / col("dist").cast("double") * 1e6 + lit(0.5)))
          .otherwise(lit(0.0)).cast("decimal(38,0)")).as("__h"))
      .select(col("node"), col("n_reached"),
        Portable.pround(col("__h").cast("double") / 1e6, 6).as("harm_r"))
  }
}
