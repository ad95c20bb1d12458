package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Materialize.Pinned

/** Context-window chunking: split each document's token stream into
  * fixed-size, optionally-overlapping windows — the step between cleaning
  * and tokenizer in every pretraining pipeline that trains on long
  * documents (a 100k-token doc becomes ~3k training windows; RAG ingestion
  * uses the same op with smaller windows).
  *
  * Scale design: pure map-side row expansion — `sequence` generates the
  * chunk starts, `posexplode` turns them into rows, `slice` cuts each
  * window out of the per-doc token array. No shuffle, no window function,
  * no state: the operator is embarrassingly parallel and its output size
  * is input_tokens × (size/stride) regardless of document skew (one
  * pathological 1 GB document expands inside its own task).
  */
object Chunking {

  /** Chunk rows (idCol, chunk_id, n_chunk, chunk) for every document:
    * windows of `size` tokens starting every `stride` tokens (stride <
    * size ⇒ overlapping windows, the common pretraining setting; stride ==
    * size ⇒ exact partition). Starts are 0, stride, 2·stride, … strictly
    * below the token count, so the tail window may be short and an
    * empty-token document yields no chunks.
    */
  def chunkTokens(
      docs: DataFrame,
      size: Int = 32,
      stride: Int = 24,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(size > 0, s"size ($size) must be positive")
    require(stride > 0, s"stride ($stride) must be positive")
    val toks = Tokenize.tokenArray(col(textCol))
    docs
      .select(col(idCol), toks.as("__toks"))
      .withColumn("__n", size_(col("__toks")))
      .withColumn(
        "__starts",
        when(col("__n") === 0, array().cast("array<int>"))
          .otherwise(sequence(lit(0), col("__n") - 1, lit(stride))))
      .select(col(idCol), col("__toks"), posexplode(col("__starts")).as(Seq("chunk_id", "__s")))
      .select(
        col(idCol),
        col("chunk_id"),
        slice(col("__toks"), col("__s") + 1, lit(size)).as("chunk"))
      .withColumn("n_chunk", size_(col("chunk")))
  }

  /** TextTiling lexical-cohesion segmentation (Hearst, Computational
    * Linguistics 23(1), 1997): find TOPIC boundaries inside a document
    * by measuring how much adjacent fixed-size token blocks share
    * vocabulary. Per gap between block b and b+1: cosine similarity of
    * the blocks' term-count vectors; the DEPTH score is how far the gap's
    * similarity sits below both neighbors (Hearst's valley criterion,
    * immediate-neighbor form), and a gap is a BOUNDARY when its depth
    * clears the per-doc cutoff mean(depth) − sd(depth)/2. This is the
    * semantics-aware counterpart of [[chunkTokens]]' fixed windows — the
    * chunker a RAG/pretraining pipeline uses when it wants chunks that
    * end where the topic does.
    *
    * Scale shape: token explode → one partial-agg groupBy to the
    * (doc, block, term) counts, localCheckpointed because two consumers
    * (norms + the adjacent-block dot join) would otherwise re-tokenize
    * the corpus (the dupExposure discipline); the dot product joins the
    * count relation against itself on (doc, term, b+1) — co-partitioned
    * by doc/term, never all-pairs; depth/cutoff windows partition BY DOC.
    * Cross-engine parity: sims round 6 dp, depths derive from rounded
    * sims, the cutoff's Σd/Σd² ride 1e6-scaled exact decimal sums.
    *
    * Returns (doc_id, gap, sim_r, depth_r, boundary) — gap g sits
    * between block g and g+1; docs with one block emit nothing.
    */
  def textTiling(
      docs: DataFrame,
      block: Int = 10,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(block > 0, s"block ($block) must be positive")
    val tc = docs
      .select(col(idCol).as("doc_id"), Tokenize.tokenArray(col(textCol)).as("__toks"))
      .select(col("doc_id"), posexplode(col("__toks")).as(Seq("__i", "__w")))
      .groupBy(col("doc_id"), (col("__i") / block).cast("int").as("__b"), col("__w"))
      .agg(count(lit(1)).as("__c"))
      .pin()
    val norms = tc.groupBy(col("doc_id"), col("__b"))
      .agg(sum(col("__c") * col("__c")).as("__q"))
    val dots = tc.as("a")
      .join(tc.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.__w") === col("b.__w") &&
          col("b.__b") === col("a.__b") + 1)
      .groupBy(col("a.doc_id"), col("a.__b"))
      .agg(sum(col("a.__c") * col("b.__c")).as("__dot"))
      .withColumnRenamed("__b", "gap")
    val sims = norms.as("l")
      .join(norms.as("r"),
        col("l.doc_id") === col("r.doc_id") && col("r.__b") === col("l.__b") + 1)
      .select(col("l.doc_id").as("doc_id"), col("l.__b").as("gap"),
        col("l.__q").as("__q1"), col("r.__q").as("__q2"))
      .join(dots, Seq("doc_id", "gap"), "left_outer")
      .withColumn("sim_r", graft.functions.Portable.pround(
        coalesce(col("__dot"), lit(0L)).cast("double")
          / (sqrt(col("__q1").cast("double")) * sqrt(col("__q2").cast("double"))), 6))
    val wd = Window.partitionBy(col("doc_id")).orderBy(col("gap"))
    val deep = sims
      .withColumn("depth_r", graft.functions.Portable.pround(
        greatest(lit(0.0),
          coalesce(lag(col("sim_r"), 1).over(wd) - col("sim_r"), lit(0.0)))
          + greatest(lit(0.0),
            coalesce(lead(col("sim_r"), 1).over(wd) - col("sim_r"), lit(0.0))), 6))
    val di = floor(col("depth_r") * 1e6 + lit(0.5)).cast("decimal(38,0)")
    val stats = deep
      .select(col("doc_id"), di.as("__di"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("__n"), sum(col("__di")).as("__sd"),
        sum(col("__di") * col("__di")).as("__sdd"))
    val mean = col("__sd").cast("double") / 1e6 / col("__n").cast("double")
    val varp = greatest(lit(0.0),
      (col("__sdd").cast("double") / 1e12
        - (col("__sd").cast("double") / 1e6) * (col("__sd").cast("double") / 1e6)
          / col("__n").cast("double")) / col("__n").cast("double"))
    deep
      .join(stats, Seq("doc_id"))
      .select(col("doc_id"), col("gap"), col("sim_r"), col("depth_r"),
        (col("depth_r") > mean - sqrt(varp) / 2).as("boundary"))
  }

  /** Content-defined chunking (CDC): cut each document's token stream
    * where the TOKEN'S OWN hash hits `0 mod modulus` — the rolling-hash
    * boundary rule of rsync/LBFS/dedup-storage, at token granularity.
    * Because a cut decision depends only on the token at that position,
    * inserting or deleting text early in a document does not move any
    * later boundary: the untouched tail re-chunks IDENTICALLY and its
    * chunk hashes still match — the property that lets sub-document
    * dedup catch near-duplicates with insertions, where fixed-stride
    * windows ([[chunkTokens]]) all shift and nothing matches.
    *
    * Expected chunk length is `modulus` tokens (geometric). Pure
    * map-side: boundary detection, slicing, and hashing are higher-order
    * expressions over the bound token array — no shuffle, no UDF; the
    * downstream dedup joins on `chunk_hash`, which is exactly
    * [[graft.operators.Dedup.exact]]'s shape at chunk granularity.
    *
    * Returns (idCol, chunk_id, n_tok, chunk_hash).
    */
  def chunkByContent(
      docs: DataFrame,
      modulus: Int = 16,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(modulus >= 2, s"modulus ($modulus) must be >= 2")
    val hash32 = (t: Column) => graft.functions.HexSlice.u(md5(t), 1, 8)
    // r21 (guide §2, the Spread repair): the per-token md5 boundary scan is
    // compute-dense relative to its input bytes — at sf0.1 the documents
    // scan is one ~3.4 MiB split, so the whole chunking pass ran in ONE
    // task (profiled 0.7 s single-task stage). Stats-guarded keyless fan
    // parallelizes it; identity on a wide (cluster-scale) scan.
    graft.functions.Spread.fan(docs.select(col(idCol), col(textCol)))
      .select(col(idCol), Tokenize.tokenArray(col(textCol)).as("__toks"))
      .withColumn("__n", size_(col("__toks")))
      // interior cut AFTER token i (1 ≤ i < n) iff hash(token_i) ≡ 0;
      // the guard keeps sequence() from producing a DESCENDING [1, 0]
      // range on one-token docs
      .withColumn("__bounds", concat(
        array(lit(0)),
        when(col("__n") >= 2,
          filter(sequence(lit(1), col("__n") - 1),
            i => hash32(element_at(col("__toks"), i)) % modulus === 0))
          .otherwise(array().cast("array<int>")),
        array(col("__n"))))
      .select(col(idCol), col("__toks"),
        posexplode(transform(
          sequence(lit(1), size_(col("__bounds")) - 1),
          j => slice(
            col("__toks"),
            element_at(col("__bounds"), j) + 1,
            element_at(col("__bounds"), j + 1) - element_at(col("__bounds"), j))))
          .as(Seq("chunk_id", "__chunk")))
      .where(size_(col("__chunk")) > 0)
      .select(
        col(idCol),
        col("chunk_id"),
        size_(col("__chunk")).as("n_tok"),
        md5(concat_ws(" ", col("__chunk"))).as("chunk_hash"))
  }

  /** Sub-document near-duplicate pairs via shared content-defined
    * chunks — [[chunkByContent]]'s consumer: two documents pair when
    * ≥ `minShared` of their CDC chunks hash-match and the shared count
    * is ≥ `minFrac` of the SMALLER document's chunk count. Because CDC
    * boundaries survive insertions, this catches "doc B = doc A with a
    * paragraph spliced in" — the case whole-document hashing and
    * fixed-stride windows both miss.
    *
    * Scale shape: the pair generator is an equi-join on chunk_hash with
    * a `maxDf` guard dropping ubiquitous chunks (boilerplate paragraphs)
    * BEFORE expansion — the same rare-keys-only discipline as the
    * prefix/minhash candidate generators; per-doc chunk counts join back
    * onto the (small) pair relation.
    *
    * Returns (doc1, doc2, n_shared, frac) with frac 4-dp rounded.
    */
  def chunkDupPairs(
      docs: DataFrame,
      modulus: Int = 16,
      minShared: Int = 2,
      minFrac: Double = 0.5,
      maxDf: Int = 1 << 12,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // distinct: repeated in-doc content must count once (set semantics —
    // n_shared is a count of shared DISTINCT chunks, not a multiplicity
    // product through the join)
    val chunks = chunkByContent(docs, modulus, idCol, textCol)
      .select(col(idCol).as("id"), col("chunk_hash"))
      .distinct()
      .pin()
    val sizes = chunks.groupBy(col("id")).agg(count(lit(1)).as("n_chunks"))
    val rare = chunks
      .groupBy(col("chunk_hash")).agg(count(lit(1)).as("__df"))
      .where(col("__df") <= maxDf)
      .select(col("chunk_hash"))
    val pruned = chunks.join(rare, Seq("chunk_hash"), "left_semi")
    val shared = pruned.select(col("chunk_hash"), col("id").as("doc1"))
      .join(pruned.select(col("chunk_hash"), col("id").as("doc2")), Seq("chunk_hash"))
      .where(col("doc1") < col("doc2"))
      .groupBy(col("doc1"), col("doc2"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
    shared
      .join(sizes.select(col("id").as("doc1"), col("n_chunks").as("n1")), Seq("doc1"))
      .join(sizes.select(col("id").as("doc2"), col("n_chunks").as("n2")), Seq("doc2"))
      .withColumn("frac",
        col("n_shared").cast("double") / least(col("n1"), col("n2")).cast("double"))
      .where(col("frac") >= minFrac)
      .select(col("doc1"), col("doc2"), col("n_shared"),
        graft.functions.Portable.pround(col("frac"), 4).as("frac"))
  }

  /** Substring-level exact deduplication: REMOVE corpus-duplicated spans
    * from every document (the Lee et al. 2022 "Deduplicating Training
    * Data" step — [[chunkDupPairs]] detects sub-document duplication;
    * this operator acts on it). Spans are [[chunkByContent]]'s CDC
    * chunks, so a paragraph pasted into the middle of an otherwise-new
    * document is excised without disturbing the surrounding text — the
    * case fixed-stride windows can't line up on.
    *
    * Keep policy (deterministic): each distinct chunk content survives
    * exactly once corpus-wide, at its lexicographically-first
    * (doc, chunk_id) occurrence; every other occurrence — later docs AND
    * later repeats inside the same doc — is dropped. Unique chunks are
    * their own first occurrence and always survive.
    *
    * Scale shape: chunking is map-side; the keeper per hash is one
    * partially-aggregated `min(struct(doc, chunk))` — hash-cardinality
    * output, no pair expansion anywhere (this is exact dedup's
    * hash-groupBy shape, at span granularity); one equi-join back on
    * chunk_hash; one regroup by doc to reassemble. Documents re-emerge
    * via left join so chunk-less (empty) docs keep a row.
    *
    * Returns (idCol, n_chunks, n_removed, n_tok, n_tok_kept, clean_hash)
    * where clean_hash = md5 of the space-joined surviving tokens in
    * chunk order (md5('') for fully-removed or empty docs).
    */
  def dedupSpans(
      docs: DataFrame,
      modulus: Int = 16,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(modulus >= 2, s"modulus ($modulus) must be >= 2")
    val hash32 = (t: Column) => graft.functions.HexSlice.u(md5(t), 1, 8)
    val chunks = docs
      .select(col(idCol), Tokenize.tokenArray(col(textCol)).as("__toks"))
      .withColumn("__n", size_(col("__toks")))
      .withColumn("__bounds", concat(
        array(lit(0)),
        when(col("__n") >= 2,
          filter(sequence(lit(1), col("__n") - 1),
            i => hash32(element_at(col("__toks"), i)) % modulus === 0))
          .otherwise(array().cast("array<int>")),
        array(col("__n"))))
      .select(col(idCol), col("__toks"),
        posexplode(transform(
          sequence(lit(1), size_(col("__bounds")) - 1),
          j => slice(
            col("__toks"),
            element_at(col("__bounds"), j) + 1,
            element_at(col("__bounds"), j + 1) - element_at(col("__bounds"), j))))
          .as(Seq("chunk_id", "__chunk")))
      .where(size_(col("__chunk")) > 0)
      .select(
        col(idCol),
        col("chunk_id"),
        col("__chunk"),
        size_(col("__chunk")).as("n_tok"),
        md5(concat_ws(" ", col("__chunk"))).as("chunk_hash"))
    val keepers = chunks
      .groupBy(col("chunk_hash"))
      .agg(min(struct(col(idCol), col("chunk_id"))).as("__keep"))
    val flagged = chunks
      .join(keepers, Seq("chunk_hash"))
      .withColumn("__kept", struct(col(idCol), col("chunk_id")) === col("__keep"))
    val perDoc = flagged
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("__kept"), lit(0L)).otherwise(lit(1L))).as("n_removed"),
        sum(col("n_tok")).as("n_tok"),
        sum(when(col("__kept"), col("n_tok")).otherwise(lit(0L))).as("n_tok_kept"),
        md5(concat_ws(" ", flatten(transform(
          array_sort(collect_list(when(col("__kept"),
            struct(col("chunk_id"), col("__chunk").as("chunk"))))),
          s => s.getField("chunk"))))).as("clean_hash"))
    docs
      .select(col(idCol))
      .join(perDoc, Seq(idCol), "left_outer")
      .select(
        col(idCol),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("n_tok"), lit(0L)).as("n_tok"),
        coalesce(col("n_tok_kept"), lit(0L)).as("n_tok_kept"),
        coalesce(col("clean_hash"), md5(lit(""))).as("clean_hash"))
  }

  // functions.size shadowed by the `size` parameter above
  private def size_(c: Column): Column = org.apache.spark.sql.functions.size(c)
}
