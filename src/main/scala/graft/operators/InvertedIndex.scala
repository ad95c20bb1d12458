package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Inverted-index construction: the reduce + sort phases of the reference
  * (O7–O10, reference src/main.cpp:172-236), expressed as a declarative plan so
  * Catalyst plans partial+final hash aggregation with map-side combine —
  * the reference's per-file queues + 26 letter mutexes become one shuffle
  * hash-partitioned by `word`.
  *
  * Determinism note (SURVEY §4 trap): `collect_set` order is nondeterministic,
  * so every surfaced posting list is wrapped in `sort_array`, and the ranking
  * sort key (df DESC, word ASC) is total per letter (words are distinct after
  * grouping). This is what makes output reproducible and oracle-comparable.
  */
object InvertedIndex {

  /** (word, doc_id) token pairs → postings:
    * word, doc_ids (sorted distinct ASC), df (document frequency), letter.
    * Duplicate (word, doc_id) pairs collapse (reference src/main.cpp:188-191).
    *
    * This is the line path's aggregate: one input row per token occurrence.
    * The manifest postings ([[graft.Engine.indexFromManifest]]) dedup inside
    * their scan and finish with [[mergePartials]] instead; this form serves
    * table inputs and is the reference the manifest build is tested against.
    */
  def postings(tokens: DataFrame, idCol: String = "doc_id"): DataFrame =
    withDfAndLetter(tokens
      .groupBy("word")
      .agg(sort_array(collect_set(col(idCol))).as("doc_ids")))

  /** Partial postings (word, doc_ids) → postings, as [[postings]] gives.
    * The id lists of one word must be disjoint across rows, as the
    * `graft-manifest-postings` scan emits them, so the per-word merge is a
    * sort of the concatenated lists with no dedup.
    *
    * [[graft.Engine.indexFromManifest]] calls it, for callers that want the
    * manifest's postings as a DataFrame (Bench, ScaleBench, deltas to
    * merge). The letter-file build ([[graft.Engine.buildIndex]]) does not:
    * it hands the scan's rows to [[graft.sources.LetterSink.writeExact]],
    * whose reducers merge each word's lists themselves.
    */
  def mergePartials(partials: DataFrame): DataFrame =
    withDfAndLetter(partials
      .groupBy("word")
      .agg(sort_array(flatten(collect_list(col("doc_ids")))).as("doc_ids")))

  private def withDfAndLetter(postings: DataFrame): DataFrame =
    postings
      .withColumn("df", size(col("doc_ids")))
      .withColumn("letter", substring(col("word"), 1, 1))

  /** Globally-ordered ranking (letter ASC, df DESC, word ASC) — the oracle-
    * comparable total order over the whole index.
    */
  def rankedGlobal(postings: DataFrame): DataFrame =
    postings.orderBy(asc("letter"), desc("df"), asc("word"))

  /** Incremental index maintenance: merge two postings relations (e.g. an
    * existing index + a newly ingested batch) without re-tokenizing either
    * side. Full outer join on word + sorted array union — one shuffle over
    * INDEX-sized data (words), never corpus-sized.
    * Invariant (spec-asserted): merge(index(A), index(B)) == index(A ∪ B)
    * for disjoint-or-not doc sets (union dedups shared doc ids).
    */
  def mergeIndexes(a: DataFrame, b: DataFrame): DataFrame = {
    val left  = a.select(col("word"), col("doc_ids").as("ids_a"))
    val right = b.select(col("word"), col("doc_ids").as("ids_b"))
    left
      .join(right, Seq("word"), "full_outer")
      .select(
        col("word"),
        sort_array(array_union(
          coalesce(col("ids_a"), array().cast("array<bigint>")),
          coalesce(col("ids_b"), array().cast("array<bigint>")))).as("doc_ids"))
      .withColumn("df", size(col("doc_ids")))
      .withColumn("letter", substring(col("word"), 1, 1))
  }

  /** Index snapshot DIFF: what changed between two index versions — per
    * word, the doc-ids added and removed, plus words that appeared or
    * vanished entirely. The audit/ops tool behind every incremental
    * maintenance path here ([[mergeIndexes]], [[removeDocs]],
    * [[upsertDocs]]): after a nightly rebuild, `diff(old, new)` is the
    * changelog to review, replicate, or roll back.
    *
    * One full-outer equi-join on word (both sides shuffle once on the
    * index's own key); the set arithmetic is map-side array ops over the
    * joined lists. Words with no change are dropped, so the output is
    * change-sized, not index-sized.
    *
    * Returns (word, added_str, removed_str, n_added, n_removed, status ∈
    * new|gone|changed), arrays space-joined ASC for the cross-engine hash.
    */
  def diffIndexes(oldIdx: DataFrame, newIdx: DataFrame): DataFrame = {
    val empty = array().cast("array<bigint>")
    val o = oldIdx.select(col("word"), col("doc_ids").as("ids_old"))
    val n = newIdx.select(col("word"), col("doc_ids").as("ids_new"))
    o.join(n, Seq("word"), "full_outer")
      .withColumn("__added", sort_array(array_except(
        coalesce(col("ids_new"), empty), coalesce(col("ids_old"), empty))))
      .withColumn("__removed", sort_array(array_except(
        coalesce(col("ids_old"), empty), coalesce(col("ids_new"), empty))))
      .where(size(col("__added")) > 0 || size(col("__removed")) > 0)
      .select(
        col("word"),
        array_join(col("__added"), " ").as("added_str"),
        array_join(col("__removed"), " ").as("removed_str"),
        size(col("__added")).as("n_added"),
        size(col("__removed")).as("n_removed"),
        when(col("ids_old").isNull, "new")
          .when(col("ids_new").isNull, "gone")
          .otherwise("changed").as("status"))
  }

  /** Incremental index maintenance: delete a (small, broadcastable) set of
    * documents from the index. Map-side only — each posting list is
    * filtered in place; words whose lists empty out disappear.
    * Invariant (spec-asserted): remove(index(A), D) == index(A \ D).
    */
  def removeDocs(postings: DataFrame, docIds: Seq[Long]): DataFrame = {
    val gone = docIds.toSet
    val keep = typedlit(gone.toSeq.sorted)
    postings
      .withColumn("doc_ids", filter(col("doc_ids"), id => !array_contains(keep, id)))
      .where(size(col("doc_ids")) > 0)
      .withColumn("df", size(col("doc_ids")))
  }

  /** Positional postings: word → sorted list of (doc_id, positions) — the
    * index structure phrase search needs (the plain index only answers
    * boolean/ranked queries). Positions are 0-based token offsets from the
    * order-preserving token array. One shuffle (word+doc agg), then a
    * map-side regroup per word. Hot-key ceiling: a stop word's full
    * positional list lands in one task/row — at true web scale keep
    * [[positionalPostingsSharded]] instead (the query path is identical).
    */
  def positionalPostings(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .select(col(idCol), posexplode(graft.operators.Tokenize.tokenArray(col(textCol))).as(Seq("pos", "word")))
      .groupBy(col("word"), col(idCol))
      .agg(sort_array(collect_list(col("pos"))).as("positions"))
      .groupBy(col("word"))
      .agg(array_sort(collect_list(struct(col(idCol).as("doc_id"), col("positions")))).as("postings"))

  /** Distributed document deletion for LARGE delete sets: [[removeDocs]]
    * ships the ids as broadcast literals (right for a handful), but a
    * bulk redaction (a licensing takedown, a spam domain) can delete
    * millions — explode the posting lists, anti-join the delete relation
    * on the DISTRIBUTED id key, and re-aggregate. One index-sized shuffle,
    * no driver-side id list.
    */
  def removeDocsLarge(postings: DataFrame, gone: DataFrame, idCol: String = "doc_id"): DataFrame =
    postings
      .select(col("word"), explode_outer(col("doc_ids")).as(idCol))
      .join(gone.select(col(idCol)), Seq(idCol), "left_anti")
      .groupBy(col("word"))
      .agg(sort_array(collect_set(col(idCol))).as("doc_ids"))
      .withColumn("df", size(col("doc_ids")))
      .withColumn("letter", substring(col("word"), 1, 1))

  /** UPSERT: re-ingest changed documents — delete every posting of the
    * incoming doc ids ([[removeDocsLarge]], so stale tokens vanish), then
    * merge the fresh per-batch index in. The composition every
    * incremental indexer runs on updates.
    * Invariant (oracle): upsert(index(A), B) == index((A \ ids(B)) ∪ B).
    */
  def upsertDocs(
      index: DataFrame,
      newDocs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    mergeIndexes(
      removeDocsLarge(index, newDocs.select(col(idCol)), idCol),
      graft.Engine.indexFromTable(newDocs, textCol, idCol))

  /** TF-bearing postings: word → sorted (doc_id, tf) structs + df — the
    * index structure RANKED retrieval needs (plain postings lose term
    * frequency; recomputing tf from raw text at query time defeats the
    * index). Same two-level aggregation shape as [[positionalPostings]]:
    * one (word, doc) shuffle, then a map-side regroup per word — and the
    * same hot-key ceiling, with the same answer (shard by doc-id range like
    * [[postingsShardedRaw]] when a word's (doc, tf) list outgrows one row;
    * [[graft.operators.Search.bm25Indexed]] explodes postings to doc rows,
    * so it consumes a sharded form unchanged).
    */
  def tfPostings(tokens: DataFrame, idCol: String = "doc_id"): DataFrame =
    tokens
      .groupBy(col("word"), col(idCol))
      .agg(count(lit(1)).as("tf"))
      .groupBy(col("word"))
      .agg(array_sort(collect_list(struct(col(idCol).as("doc_id"), col("tf")))).as("postings"))
      .withColumn("df", size(col("postings")))

  /** Per-document token counts — the "norms" sidecar every BM25-serving
    * index stores next to the postings (one small table, built in the same
    * pass over the corpus as the index).
    */
  def docLengths(tokens: DataFrame, idCol: String = "doc_id"): DataFrame =
    tokens.groupBy(col(idCol)).agg(count(lit(1)).as("dl"))

  /** Impact-ordered static index pruning (the Lucene/WAND serving trick):
    * keep only each term's top `n` postings by (tf DESC, doc_id ASC) —
    * the documents that can win a tf-weighted top-k query — shrinking a
    * serving index by orders of magnitude on common terms at a bounded,
    * explicit recall cost (`df_full` is carried so the consumer can see
    * exactly how much of each term's list was cut).
    *
    * Selection rides the bounded [[graft.plans.CosTopK]] partial top-k
    * aggregate: the map side buffers at most `n` entries per term before
    * the exchange — never a whole-term window partition, which for a
    * stop word is precisely the skew case static pruning exists to fix.
    *
    * Returns (word, doc_id, tf, df_full) — `n` rows per term at most.
    */
  def prunedTfPostings(tokens: DataFrame, n: Int = 10, idCol: String = "doc_id"): DataFrame = {
    require(n >= 1, s"n ($n) must be >= 1")
    import org.apache.spark.sql.GraftBridge
    val topk = GraftBridge.column(graft.plans.CosTopK(
      GraftBridge.expression(col("tf").cast("double")),
      GraftBridge.expression(col(idCol).cast("bigint")),
      GraftBridge.expression(col("tf").cast("double")),
      n).toAggregateExpression())
    tokens
      .groupBy(col("word"), col(idCol))
      .agg(count(lit(1)).as("tf"))
      .groupBy(col("word"))
      .agg(topk.as("__top"), count(lit(1)).as("df_full"))
      .select(col("word"), col("df_full"), explode(col("__top")).as("__e"))
      .select(col("word"), col("__e.id").as(idCol),
        col("__e.cos").cast("long").as("tf"), col("df_full"))
  }

  /** Incremental maintenance for the POSITIONAL index (the structure that
    * serves phrase queries — round 2 only maintained the plain postings, so
    * an incrementally-updated index silently lost phrase search). Full
    * outer join on word + struct-array union sorted by doc_id — one shuffle
    * over index-sized data, same shape as [[mergeIndexes]]. Batch ingestion
    * merges disjoint doc sets; a doc present on both sides with identical
    * positions (re-ingestion) dedups via struct equality.
    * Invariant (spec + oracle): mergePositional(pos(A), pos(B)) == pos(A ∪ B).
    */
  def mergePositional(a: DataFrame, b: DataFrame): DataFrame =
    // union + explode + re-aggregate, NOT a full-outer join with
    // array_union: array_union over non-atomic element types falls back to
    // pairwise equality (O(|a|·|b|) interpreted struct comparisons PER
    // WORD — measured 7× slower on sf0.1 stop words). The explode keys the
    // shuffle by (word, posting-struct) rows — still index-sized — and
    // collect_set dedups re-ingested (doc, positions) structs exactly like
    // array_union did.
    a.select(col("word"), col("postings"))
      .unionByName(b.select(col("word"), col("postings")))
      .select(col("word"), explode_outer(col("postings")).as("p"))
      .groupBy(col("word"))
      .agg(array_sort(collect_set(col("p"))).as("postings"))

  /** Delete documents from the positional index — map-side only, mirroring
    * [[removeDocs]]: each word's posting structs are filtered in place and
    * words whose postings empty out disappear.
    * Invariant (spec + oracle): removeDocsPositional(pos(A), D) == pos(A \ D).
    */
  def removeDocsPositional(positional: DataFrame, docIds: Seq[Long]): DataFrame = {
    val gone = typedlit(docIds.toSet.toSeq.sorted)
    positional
      .withColumn("postings",
        filter(col("postings"), p => !array_contains(gone, p.getField("doc_id"))))
      .where(size(col("postings")) > 0)
  }

  /** Positional postings sharded by doc-id range — [[positionalPostings]]
    * has the same hot-key ceiling as the plain index (a stop word's
    * positional lists in ONE aggregation buffer and ONE output row), so the
    * scale representation shards the word's postings exactly like
    * [[postingsShardedRaw]]: per-(word, shard) rows bound task state at
    * `shardWidth` documents' positions. [[graft.operators.Search.phraseQueryIndexed]]
    * consumes this form UNCHANGED (it explodes postings to docs and never
    * needs a word's full list in one row) — q_search_phrase_indexed_sharded
    * pins result-identity with the unsharded query.
    */
  def positionalPostingsSharded(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      shardWidth: Long = 1000000L): DataFrame =
    docs
      .select(col(idCol), posexplode(graft.operators.Tokenize.tokenArray(col(textCol))).as(Seq("pos", "word")))
      .groupBy(col("word"), col(idCol))
      .agg(sort_array(collect_list(col("pos"))).as("positions"))
      .withColumn("shard", (col(idCol) / shardWidth).cast("long"))
      .groupBy(col("word"), col("shard"))
      .agg(array_sort(collect_list(struct(col(idCol).as("doc_id"), col("positions")))).as("postings"))

  /** Gap-encoded postings: each sorted posting list re-expressed as deltas
    * (first id verbatim, then id[i] − id[i−1]) plus the byte cost of
    * varint-encoding those gaps — the standard on-disk index compression
    * (Lucene/ES store postings exactly this way: ascending ids make gaps
    * small, and small ints varint-pack into 1–2 bytes instead of 8).
    * Returns (word, df, gaps_md5, varint_bytes, naive_bytes, ratio) —
    * the gap array itself is fingerprinted (md5 of the comma-joined list)
    * so hot words don't balloon the result relation.
    *
    * Map-side only over the index: `transform` with index computes gaps
    * in-place, `aggregate` folds the varint cost — no shuffle beyond what
    * built the postings. Varint width is a CASE over exact integer
    * thresholds (128^k), not float log arithmetic, so the oracle agrees
    * bit-for-bit. On the sharded representation ([[postingsShardedRaw]])
    * the same expressions apply per (word, shard) row unchanged — gaps
    * within a shard, one verbatim id per shard.
    */
  def deltaPostings(postings: DataFrame): DataFrame = {
    val ids  = col("doc_ids")
    val gaps = transform(ids, (x, i) =>
      when(i === 0, x).otherwise(x - element_at(ids, i)))
    val varintBytes = (g: org.apache.spark.sql.Column) =>
      when(g < 128L, 1L).when(g < 16384L, 2L).when(g < 2097152L, 3L)
        .when(g < 268435456L, 4L).otherwise(5L)
    postings
      .select(
        col("word"),
        col("df"),
        gaps.as("__gaps"))
      .select(
        col("word"),
        col("df"),
        md5(array_join(transform(col("__gaps"), _.cast("string")), ",")).as("gaps_md5"),
        aggregate(col("__gaps"), lit(0L), (acc, g) => acc + varintBytes(g)).as("varint_bytes"),
        (col("df") * 8L).as("naive_bytes"))
      .withColumn(
        "ratio",
        graft.functions.Portable.pround(
          col("varint_bytes").cast("double") / col("naive_bytes").cast("double"), 4))
  }

  /** Sharded postings, stage 1 — the true 100 TB form: a stop word's posting
    * list at web scale is billions of ids, too big for any single task's
    * aggregation buffer OR output row. Sharding the aggregation by doc-id
    * range (`shard = doc_id div shardWidth`) bounds per-task state at
    * `shardWidth` ids, and the per-(word, shard) rows ARE the scale-safe
    * index representation — queries iterate shards in order (they partition
    * the id space monotonically) without ever concatenating them.
    */
  def postingsShardedRaw(tokens: DataFrame, idCol: String = "doc_id", shardWidth: Long = 1000000L): DataFrame =
    tokens
      .withColumn("shard", (col(idCol) / shardWidth).cast("long"))
      .groupBy(col("word"), col("shard"))
      .agg(sort_array(collect_set(col(idCol))).as("doc_ids"))

  /** Sharded postings, reassembled: flatten the per-shard lists in shard
    * order, which preserves global ascending order exactly. Result is
    * IDENTICAL to [[postings]] (asserted in PostingsSpec and by the shared
    * oracle SQL). NOTE this final concat necessarily materializes each
    * word's full list in one task — it exists for parity checking and
    * moderate scales; at true hot-key scale keep the
    * [[postingsShardedRaw]] representation instead.
    */
  def postingsSharded(tokens: DataFrame, idCol: String = "doc_id", shardWidth: Long = 1000000L): DataFrame =
    postingsShardedRaw(tokens, idCol, shardWidth)
      .groupBy("word")
      .agg(flatten(array_sort(collect_list(struct(col("shard"), col("doc_ids")))).getField("doc_ids")).as("doc_ids"))
      .withColumn("df", size(col("doc_ids")))
      .withColumn("letter", substring(col("word"), 1, 1))

  /** Front-coding size estimate for the per-letter term DICTIONARY
    * (Witten/Moffat/Bell, "Managing Gigabytes" §4.1 — the standard
    * sorted-dictionary compression): lexicographically adjacent words
    * share prefixes, so each word stores only (shared-prefix length,
    * suffix). The dictionary-side companion of [[deltaPostings]] (which
    * sizes the POSTING side): together they estimate the full on-disk
    * letter-file footprint under the classic layout.
    *
    * The window partitions by FIRST LETTER — exactly the reference's
    * a.txt…z.txt file split, so each chain is one letter file's sorted
    * vocabulary and per-partition state is letter-vocabulary-bounded.
    * LCP is computed positionally (prefix equality is monotone, so
    * size(filter(...)) counts it exactly); coded bytes charge
    * 1 byte of prefix-length overhead per word.
    *
    * Returns (letter, n_words, raw_bytes, coded_bytes, ratio_r).
    */
  def frontCodingStats(vocab: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byLetter = Window.partitionBy(col("letter")).orderBy(col("word"))
    vocab
      .select(col("word"))
      .distinct()
      .withColumn("letter", substring(col("word"), 1, 1))
      .withColumn("prev", lag(col("word"), 1).over(byLetter))
      .withColumn("lcp",
        when(col("prev").isNull, lit(0)).otherwise(
          size(filter(
            sequence(lit(1), least(length(col("word")), length(col("prev")))),
            i => col("word").substr(lit(1), i) === col("prev").substr(lit(1), i)))))
      .groupBy(col("letter"))
      .agg(
        count(lit(1)).as("n_words"),
        sum(length(col("word"))).cast("long").as("raw_bytes"),
        sum(length(col("word")) - col("lcp") + 1).cast("long").as("coded_bytes"))
      .withColumn("ratio_r", graft.functions.Portable.pround(
        col("coded_bytes").cast("double") / col("raw_bytes"), 4))
  }
}
