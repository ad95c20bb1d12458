package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Materialize.Pinned
import graft.functions.Portable

/** Corpus co-occurrence statistics: which terms appear together more often
  * than chance — collocation mining, topic seeding, and the association
  * signal behind query expansion. PMI (pointwise mutual information) at
  * document granularity: pmi(x, y) = ln( P(x,y) / (P(x)·P(y)) ), with all
  * probabilities estimated from document frequencies.
  */
object Cooccurrence {

  /** Within-document co-occurring term pairs with document counts and PMI.
    * Returns (w1, w2, n_xy, n_x, n_y, pmi), w1 < w2, n_xy >= `minPair`.
    *
    * Scale design: the pair expansion is the hazard — a doc with t distinct
    * terms yields t² pairs, and a STOP WORD pairs with everything. The
    * df-band prefilter ([minDf, maxDfFrac·N]) is applied BEFORE pairing:
    * dropping ubiquitous terms (they carry no association signal — their
    * PMI ≈ 0 by construction) and hapax terms (their PMI is noise) bounds
    * the per-doc pair fan-out to the banded vocabulary actually worth
    * measuring; the self-join is keyed on the document id, so it
    * co-partitions without a cartesian. All counts are exact integers; the
    * single ln() ratio is engine-reproducible. PMI values are 6-dp rounded.
    */
  def pmiPairs(
      tokens: DataFrame,
      idCol: String = "doc_id",
      minPair: Long = 5,
      minDf: Long = 2,
      maxDfFrac: Double = 0.9): DataFrame =
    pairStats(tokens, idCol, minPair, minDf, maxDfFrac)
      .select(
        col("w1"), col("w2"), col("n_xy"), col("n_x"), col("n_y"),
        Portable.pround(
          log(col("n_xy").cast("double") * col("n_docs") / (col("n_x") * col("n_y"))),
          6).as("pmi"))

  /** Skip-gram (token-window) PMI — the word2vec/GloVe co-occurrence
    * count (Mikolov et al. 2013 train on exactly this matrix; Levy &
    * Goldberg NeurIPS'14 showed SGNS factorizes shifted PMI of it):
    * pairs of tokens within `window` POSITIONS of each other, versus
    * [[pmiPairs]]' whole-document granularity — "appears in the same
    * doc" vs "appears next to": syntax-scale association instead of
    * topic-scale. PMI = ln(n_ab·T / (n_a·n_b)) with marginals counted
    * from the pair stream itself (each slot counted on both sides), so
    * the estimate is self-consistent.
    *
    * Scale shape: the pair expansion is positional — `window` EQUI-joins
    * on (doc, pos+off) (the positional-phrase-index trick: offsets
    * explode BEFORE the join, so it's one hash join on exact keys, no
    * range join, no t² blowup — tokens·window pairs, a constant factor
    * of the scan). Canonical (least, greatest) orientation; exact
    * integer counts; the log is one fixed-order scalar over integers,
    * 6-dp rounded.
    *
    * Returns (w1, w2, n_ab, n_a, n_b, pmi_r), n_ab ≥ `minPair`,
    * ordered nowhere (callers sort).
    */
  /** TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004): corpus
    * keywords as the top-k PageRank nodes of the word co-occurrence
    * graph — words vote for the words they appear NEXT TO, so a term is
    * important when important terms keep its company (the graph-centrality
    * alternative to [[graft.operators.Search.keywords]]' tf-idf scoring:
    * tf-idf rewards locally-frequent/globally-rare, TextRank rewards
    * hub-ness in the co-occurrence structure; stopword-ish hubs rank high
    * by design and are filtered upstream when unwanted).
    *
    * Pipeline = composition of two audited plans: [[skipgramPmi]]'s
    * positional equi-join pair stream (window ≤ 8, tokens·window pairs,
    * never t²) feeding [[Graph.pagerank]]'s fixed-iteration loop (edges
    * materialized once hash-partitioned on src; each round shuffles only
    * the vocab-sized rank relation). Edges keep unordered pairs seen at
    * least `minPair` times — the standard noise floor. Top-k is a bounded
    * TakeOrdered on the ROUNDED score (6 dp) with word-ASC tie-break, so
    * the cut is cross-engine exact.
    *
    * Returns (word, pr_r), top k by (pr_r DESC, word ASC).
    */
  def textrank(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      window: Int = 2,
      minPair: Long = 2,
      iters: Int = 5,
      k: Int = 20,
      damping: Double = 0.85): DataFrame = {
    require(window >= 1 && window <= 8, s"window ($window) must be in [1, 8]")
    require(minPair >= 1, s"minPair ($minPair) must be >= 1")
    require(k >= 1, s"k ($k) must be >= 1")
    val edges = windowPairs(docs, textCol, idCol, window)
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("__n"))
      .where(col("__n") >= minPair)
      .select(col("w1").as("src"), col("w2").as("dst"))
    Graph.pagerankRounded(Graph.undirected(edges), iters, damping)
      .select(col("node").as("word"), col("pr").as("pr_r"))
      .orderBy(desc("pr_r"), asc("word"))
      .limit(k)
  }

  /** The shared within-window unordered pair stream ((least, greatest)
    * orientation, one row per co-occurrence) under [[skipgramPmi]] and
    * [[textrank]].
    */
  private def windowPairs(
      docs: DataFrame, textCol: String, idCol: String, window: Int): DataFrame = {
    val pos = docs
      .select(col(idCol).as("__d"),
        posexplode(graft.operators.Tokenize.tokenArray(col(textCol)))
          .as(Seq("__p", "__w")))
    pos.select(col("__d"), col("__w").as("__wa"),
      explode(sequence(lit(1), lit(window))).as("__off"),
      col("__p"))
      .join(pos.select(col("__d").as("__db"), col("__p").as("__pb"), col("__w").as("__wb")),
        col("__db") === col("__d") && col("__pb") === col("__p") + col("__off"))
      .select(least(col("__wa"), col("__wb")).as("w1"),
        greatest(col("__wa"), col("__wb")).as("w2"))
  }

  def skipgramPmi(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      window: Int = 2,
      minPair: Long = 5): DataFrame = {
    require(window >= 1 && window <= 8, s"window ($window) must be in [1, 8]")
    require(minPair >= 1, s"minPair ($minPair) must be >= 1")
    val pairs = windowPairs(docs, textCol, idCol, window)
    val cnt = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_ab"))
      .pin()
    // vocabulary-keyed shuffle joins, NOT broadcasts: the marginal
    // relation is vocab-sized and a web-scale vocabulary doesn't fit an
    // executor broadcast; only the one-row total rides broadcast
    val marg = cnt.select(col("w1").as("w"), col("n_ab"))
      .unionAll(cnt.select(col("w2").as("w"), col("n_ab")))
      .groupBy(col("w")).agg(sum(col("n_ab")).as("n_w"))
    val tot = cnt.agg(sum(col("n_ab")).as("__t"))
    cnt
      .where(col("n_ab") >= minPair)
      .join(marg.select(col("w").as("w1"), col("n_w").as("n_a")), Seq("w1"))
      .join(marg.select(col("w").as("w2"), col("n_w").as("n_b")), Seq("w2"))
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"), col("n_ab"), col("n_a"), col("n_b"),
        Portable.pround(
          log(col("n_ab").cast("double") * col("__t").cast("double")
            / (col("n_a").cast("double") * col("n_b").cast("double"))), 6).as("pmi_r"))
  }

  /** Collocation SIGNIFICANCE via Dunning's log-likelihood ratio G²
    * (Dunning, Computational Linguistics 1993) over the same banded
    * pair relation: G² = 2·Σ O·ln(O/E) across the 2×2 document
    * contingency of (has w1, has w2) — the test PMI can't be: PMI ranks
    * a 3-of-3 co-occurrence above a 500-of-600 one (it ignores
    * evidence), G² grows with support, which is why collocation
    * extraction standardized on it for sparse counts. Exact integer
    * cells; the four ln terms combine in one fixed-order map-side
    * expression (zero cells contribute 0), so the statistic replays
    * bit-for-bit.
    *
    * Returns (w1, w2, n_xy, n_x, n_y, g2_r) — g2_r 4-dp rounded.
    */
  def g2Collocations(
      tokens: DataFrame,
      idCol: String = "doc_id",
      minPair: Long = 5,
      minDf: Long = 2,
      maxDfFrac: Double = 0.9): DataFrame = {
    val n = col("n_docs") // double
    def term(k: Column, row: Column, c: Column): Column =
      when(k > 0,
        k.cast("double") * log(k.cast("double") * n / (row.cast("double") * c.cast("double"))))
        .otherwise(0.0)
    val k11 = col("n_xy")
    val k12 = col("n_x") - col("n_xy")
    val k21 = col("n_y") - col("n_xy")
    val k22 = n - col("n_x") - col("n_y") + col("n_xy")
    pairStats(tokens, idCol, minPair, minDf, maxDfFrac)
      .select(col("w1"), col("w2"), col("n_xy"), col("n_x"), col("n_y"),
        Portable.pround(
          lit(2.0) * (term(k11, col("n_x"), col("n_y"))
            + term(k12, col("n_x"), n - col("n_y"))
            + term(k21, n - col("n_x"), col("n_y"))
            + term(k22, n - col("n_x"), n - col("n_y"))), 4).as("g2_r"))
  }

  /** The shared banded document-co-occurrence relation both association
    * measures select from: (w1, w2, n_xy, n_x, n_y, n_docs) with
    * w1 < w2, pair count ≥ minPair, both words inside the df band.
    */
  private def pairStats(
      tokens: DataFrame,
      idCol: String,
      minPair: Long,
      minDf: Long,
      maxDfFrac: Double): DataFrame = {
    // dt is referenced four times below (both pair-join sides, the df
    // aggregate, the doc count); left lazy, every reference re-tokenizes
    // and re-dedups the corpus (round 7's first audit: a 917-node plan).
    // Materialize the distinct (doc, word) relation once — the
    // Graph.pagerank / Dedup.duplicateGroups pattern.
    val dt  = tokens.select(col(idCol), col("word")).distinct().pin()
    val nd  = dt.select(col(idCol)).distinct().agg(count(lit(1)).cast("double").as("n_docs"))
    val dfs = dt.groupBy(col("word")).agg(count(lit(1)).as("df_w"))
    // band (vocabulary-sized) is itself referenced four times; left lazy,
    // each reference re-runs the df aggregate over the full dt relation
    val band = dfs
      .crossJoin(broadcast(nd))
      .where(col("df_w") >= minDf && col("df_w") <= col("n_docs") * maxDfFrac)
      .select(col("word"), col("df_w"))
      .pin()
    val dtb = dt.join(band.select(col("word")), Seq("word"))
    val pairs = dtb
      .select(col(idCol), col("word").as("w1"))
      .join(dtb.select(col(idCol), col("word").as("w2")), Seq(idCol))
      .where(col("w1") < col("w2"))
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n_xy"))
      .where(col("n_xy") >= minPair)
    pairs
      .join(band.select(col("word").as("w1"), col("df_w").as("n_x")), Seq("w1"))
      .join(band.select(col("word").as("w2"), col("df_w").as("n_y")), Seq("w2"))
      .crossJoin(broadcast(nd))
  }

  /** Per-source KEYNESS leaderboard (Rayson & Garside, "Comparing
    * corpora using frequency profiling", WCC 2000 — the corpus-
    * linguistics standard): for every source, the top-k terms whose
    * TOKEN frequency in that source most exceeds the rest of the
    * corpus, scored by Dunning's G² over the (in-source, elsewhere) ×
    * (this word, other words) token contingency. The "what is this
    * source actually about" profile behind mixture design and source
    * filtering — [[g2Collocations]] asks which words attract each
    * other, keyness asks which words attract a SOURCE; c-TF-IDF
    * (`Similarity.clusterTopTerms`) is its embedding-cluster sibling.
    * Only OVERUSED terms rank (a/n₁ > c/n₀ by exact integer
    * cross-multiply) — underuse is a different report.
    *
    * Scale shape: the corpus collapses to the (source, word) token-count
    * relation in one partial-agg pass (materialized once — three
    * consumers); word and source totals are vocabulary-/source-sized;
    * the rank window partitions per SOURCE over its ≥ minCount
    * vocabulary, never the token stream. Exact integer cells, four
    * fixed-order ln terms (zero cells contribute 0), G² rounded 4 dp
    * before the (g2_r DESC, word ASC) rank.
    *
    * Returns (source, word, n_in, n_out, g2_r, rank), rank ≤ k.
    */
  def keyness(
      tokens: DataFrame,
      sourceCol: String,
      k: Int = 10,
      minCount: Long = 5): DataFrame = {
    require(k >= 1 && minCount >= 1, s"k ($k) / minCount ($minCount) must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val cnt = tokens
      .select(col(sourceCol).as("source"), col("word"))
      .groupBy(col("source"), col("word"))
      .agg(count(lit(1)).as("a"))
      .pin()
    val wt = cnt.groupBy(col("word")).agg(sum(col("a")).as("wtot"))
    val st = cnt.groupBy(col("source")).agg(sum(col("a")).as("n1"))
    val tot = st.agg(sum(col("n1")).as("nn"))
    val n = col("nn").cast("double")
    def term(kk: Column, row: Column, c: Column): Column =
      when(kk > 0,
        kk.cast("double") * log(kk.cast("double") * n / (row.cast("double") * c.cast("double"))))
        .otherwise(0.0)
    val b = col("n1") - col("a")
    val c0 = col("wtot") - col("a")
    val d = col("nn") - col("n1") - c0
    val scored = cnt
      .where(col("a") >= minCount)
      .join(wt, Seq("word"))
      .join(st, Seq("source"))
      .crossJoin(broadcast(tot))
      // overused only: a/n1 > c/n0 by integer cross-multiply — through
      // decimal(38,0) so the products stay exact past ~3e9 corpus tokens
      // (long*long overflows silently at that scale)
      .where(col("a").cast("decimal(38,0)") * (col("nn") - col("n1")).cast("decimal(38,0)")
        > c0.cast("decimal(38,0)") * col("n1").cast("decimal(38,0)"))
      .select(col("source"), col("word"), col("a").as("n_in"), c0.as("n_out"),
        Portable.pround(
          lit(2.0) * (term(col("a"), col("n1"), col("wtot"))
            + term(b, col("n1"), col("nn") - col("wtot"))
            + term(c0, col("nn") - col("n1"), col("wtot"))
            + term(d, col("nn") - col("n1"), col("nn") - col("wtot"))), 4).as("g2_r"))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("g2_r").desc, col("word").asc)))
      .where(col("rank") <= k)
  }
}
