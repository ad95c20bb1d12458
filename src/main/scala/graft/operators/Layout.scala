package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Materialize.Pinned

/** Data-layout operators: multi-dimensional clustering keys for write-time
  * file organization. A 100 TB table queried on several independent
  * columns can't be range-sorted to serve all of them; interleaving the
  * columns' bits into one Z-order (Morton) key and range-partitioning on it
  * gives every participating column locality, so parquet min/max stats
  * prune files for predicates on ANY of the interleaved dimensions — the
  * technique behind Delta/Iceberg `OPTIMIZE ZORDER BY`.
  */
object Layout {

  /** The Z-order key: round-robin bit-interleave of the given non-negative
    * integer columns' low `bits` bits (bit i of column j lands at position
    * i·k + j). Pure integer shift/mask arithmetic — one codegen'd
    * expression, map-side, identical in any engine. Columns must already be
    * quantized to [0, 2^bits) (clamp/bucket upstream; [[quantize]] helps).
    */
  def zorderKey(cols: Seq[Column], bits: Int): Column = {
    require(cols.nonEmpty, "zorderKey needs at least one column")
    val k = cols.size
    require(bits > 0 && bits * k <= 62, s"bits ($bits) x ${k} cols must fit a signed long")
    cols.zipWithIndex
      .flatMap { case (c, j) =>
        (0 until bits).map { i =>
          shiftleft(shiftright(c.cast("long"), i).bitwiseAND(lit(1L)), i * k + j)
        }
      }
      .reduce(_ + _)
  }

  /** Quantize a numeric column into [0, 2^bits) by uniform `width` cells,
    * clamped at the top — the upstream step for [[zorderKey]] on
    * continuous columns.
    */
  def quantize(c: Column, width: Double, bits: Int): Column =
    least(floor(c / width).cast("long"), lit((1L << bits) - 1))

  /** Small-file compaction planner: given a FILE-METADATA relation
    * (partition, path, bytes), assign each under-target file to a
    * compaction bin so every bin approaches `targetBytes` (the greedy
    * path-order prefix rule — `bin = cum_bytes_before div target`, the
    * [[Packing.packByOffset]] boundary semantics), and pass already-big
    * files through untouched as their own negative-numbered bins. This is
    * the planning half of OPTIMIZE/compaction in any table format: the
    * small-files problem is what kills 100 TB scans (open/seek per file,
    * starved row groups), and the plan decides the rewrite jobs.
    *
    * Operates on METADATA, not data: 100 TB at 128 MB files is ~800k rows
    * — the per-partition window over file rows is the deliberate,
    * documented choice (the vocabGrowth argument), not a scale hole; the
    * data itself is never shuffled by planning.
    *
    * Deterministic: path order fixes bins across reruns. Returns one
    * manifest row per bin: (partCol, bin, action, n_files, total_bytes,
    * files_str) — `compact` bins hold ≥ 1 small files; `keep` bins are
    * singleton big files with bin = −(path rank).
    */
  def compactionPlan(
      files: DataFrame,
      targetBytes: Long,
      partCol: String = "part",
      pathCol: String = "path",
      bytesCol: String = "bytes"): DataFrame = {
    require(targetBytes > 0, s"targetBytes ($targetBytes) must be positive")
    val byPath = Window.partitionBy(col(partCol)).orderBy(col(pathCol))
    val small = files
      .where(col(bytesCol) < targetBytes)
      .withColumn("__cb", sum(col(bytesCol)).over(byPath) - col(bytesCol))
      .withColumn("bin", floor(col("__cb") / targetBytes).cast("bigint"))
      .withColumn("action", lit("compact"))
    val big = files
      .where(col(bytesCol) >= targetBytes)
      .withColumn("bin", -row_number().over(byPath).cast("bigint"))
      .withColumn("action", lit("keep"))
    small.select(col(partCol), col(pathCol), col(bytesCol), col("bin"), col("action"))
      .unionByName(big.select(col(partCol), col(pathCol), col(bytesCol), col("bin"), col("action")))
      .groupBy(col(partCol), col("bin"), col("action"))
      .agg(
        count(lit(1)).as("n_files"),
        sum(col(bytesCol)).as("total_bytes"),
        array_join(sort_array(collect_list(col(pathCol))), " ").as("files_str"))
  }

  /** EXECUTE a [[compactionPlan]] over a real parquet directory — the
    * rewrite half of OPTIMIZE: list the directory's files (driver-side
    * FILE METADATA, the planner's input by definition — ~800k rows at
    * 100 TB with 128 MB files, exactly what a table format's manifest
    * holds; the DATA below never touches the driver), plan bins with
    * [[compactionPlan]], rewrite each `compact` bin's rows as ONE output
    * file (rows are routed to their bin via a broadcast (file → bin) map
    * on `input_file_name`, then `repartition(bin)` + `partitionBy(bin)`
    * puts each bin in exactly one task ⇒ exactly one file), and leave
    * `keep` files untouched in place.
    *
    * Returns the POST-compaction table: kept files ∪ the compacted
    * rewrite — which must be row-identical to the input directory (the
    * invariant the spec and the oracle row pin).
    */
  def compactExecute(
      spark: SparkSession,
      srcDir: String,
      outDir: String,
      targetBytes: Long): DataFrame = {
    import org.apache.hadoop.fs.Path
    val src = new Path(srcDir)
    val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val listed = fs.listStatus(src).toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(f => (f.getPath.getName, f.getLen))
    require(listed.nonEmpty, s"no parquet files under $srcDir")
    import spark.implicits._
    val meta = listed.toDF("path", "bytes").withColumn("part", lit("all"))
    val plan = compactionPlan(meta, targetBytes)
    val assign = plan
      .where(col("action") === "compact")
      .select(col("bin"), explode(split(col("files_str"), " ")).as("__fname"))
    val keepNames = plan
      .where(col("action") === "keep")
      .select(explode(split(col("files_str"), " ")).as("__fname"))
    val data = spark.read.parquet(srcDir)
      .withColumn("__fname", element_at(split(input_file_name(), "/"), -1))
    // planning decision off the metadata relation (driver-sized, like the
    // listing itself): nothing to rewrite → the table IS the result
    if (plan.where(col("action") === "compact").isEmpty) return data.drop("__fname")
    data
      .join(broadcast(assign), Seq("__fname"))
      .drop("__fname")
      .repartition(col("bin"))
      .write.mode("overwrite").partitionBy("bin").parquet(outDir)
    val kept = data
      .join(broadcast(keepNames), Seq("__fname"))
      .drop("__fname")
    val compacted = spark.read.parquet(outDir).drop("bin")
    kept.unionByName(compacted)
  }

  /** Zone-map prune effectiveness: given a file assignment (any
    * expression mapping rows to their file), the per-file [min, max]
    * zone maps of `valueCol` and the fraction of files a range predicate
    * `[lo, hi]` can SKIP without reading — the measurable form of the
    * argument this whole module ([[zorderKey]], [[clusterForWrite]],
    * parquet row-group stats) rests on. Run it with two candidate
    * layouts and the delta in `prune_frac_r` is the I/O a re-cluster
    * would save at scale.
    *
    * One partial-aggregated groupBy to the file-count-sized zone-map
    * relation, then a scalar reduce — no window, no row-level state past
    * the first aggregate. A file is prunable iff its zone is disjoint
    * from the predicate (`max < lo` or `min > hi`) — exactly the
    * decision a reader makes from parquet column statistics.
    *
    * Returns one row: (layout, n_files, files_scanned, prune_frac_r).
    */
  def zoneMapPruneStats(
      df: DataFrame,
      fileExpr: Column,
      label: String,
      valueCol: String,
      lo: Double,
      hi: Double): DataFrame = {
    require(lo <= hi, s"predicate range [$lo, $hi] is empty")
    df.select(fileExpr.as("__f"), col(valueCol).cast("double").as("__v"))
      .groupBy(col("__f"))
      .agg(min(col("__v")).as("__mn"), max(col("__v")).as("__mx"))
      .agg(
        count(lit(1)).as("n_files"),
        sum(when(col("__mx") < lo || col("__mn") > hi, 0L).otherwise(1L)).as("files_scanned"))
      .select(
        lit(label).as("layout"),
        col("n_files"),
        col("files_scanned"),
        graft.functions.Portable.pround(
          lit(1.0) - col("files_scanned").cast("double") / col("n_files"), 4).as("prune_frac_r"))
  }

  /** The same bit-interleave as [[zorderKey]], rendered as ANSI SQL over
    * the given column expressions — the oracle mirror (kept next to the
    * Spark form so the two can't drift).
    */
  /** One refinement level of the 2-D Hilbert walk (classic xy2d, the
    * n−1-flip rotation so coordinates never go negative), as SQL text
    * over the given input column names — ONE generator serves both the
    * Spark side ([[hilbertKey]] applies it with `expr` per level) and the
    * DuckDB oracle (a CTE chain), so the engines run literally identical
    * arithmetic. Returns the (x', y', d') expressions for quadrant size
    * `s = 2^level` inside a `2^bits`-wide grid.
    */
  def hilbertStepSql(bits: Int, level: Int, x: String, y: String, d: String): (String, String, String) = {
    val n = 1L << bits
    val s = 1L << level
    val rx = s"(CASE WHEN ($x & $s) > 0 THEN 1 ELSE 0 END)"
    val ry = s"(CASE WHEN ($y & $s) > 0 THEN 1 ELSE 0 END)"
    // (3·rx) XOR ry over {0,1}²: (0,0)→0 (0,1)→1 (1,0)→3 (1,1)→2
    val quad = s"(CASE WHEN $rx = 0 AND $ry = 0 THEN 0 WHEN $rx = 0 THEN 1 WHEN $ry = 0 THEN 3 ELSE 2 END)"
    val nd = s"($d + $s * $s * $quad)"
    // ry=1: no rotation; ry=0: flip (if rx=1) then swap
    val nx = s"(CASE WHEN $ry = 1 THEN $x WHEN $rx = 1 THEN ${n - 1} - $y ELSE $y END)"
    val ny = s"(CASE WHEN $ry = 1 THEN $y WHEN $rx = 1 THEN ${n - 1} - $x ELSE $x END)"
    (nx, ny, nd)
  }

  /** The 2-D Hilbert clustering key — [[zorderKey]]'s better-locality
    * sibling: consecutive key values are ALWAYS Manhattan-adjacent cells
    * (the Z-curve jumps across the grid at every power-of-two boundary),
    * so a range of Hilbert keys covers a tighter spatial blob and
    * range-partitioned files prune better for 2-dimensional predicates.
    * The walk is `bits` levels of pure integer CASE/mask arithmetic
    * (generated by [[hilbertStepSql]]), applied as a chain of narrow
    * projections — map-side, codegen'd, no shuffle; columns must already
    * be quantized to [0, 2^bits) ([[quantize]] upstream, as for Z-order).
    *
    * Appends `outCol` = the Hilbert distance in [0, 4^bits).
    */
  def hilbertKey(df: DataFrame, xCol: String, yCol: String, bits: Int, outCol: String = "hkey"): DataFrame = {
    require(bits > 0 && 2 * bits <= 62, s"2 x bits ($bits) must fit a signed long")
    val base = df.columns.toSeq
    var cur = df
      .withColumn("__hx", col(xCol).cast("long"))
      .withColumn("__hy", col(yCol).cast("long"))
      .withColumn("__hd", lit(0L))
    for (lvl <- (bits - 1) to 0 by -1) {
      val (nx, ny, nd) = hilbertStepSql(bits, lvl, "__hx", "__hy", "__hd")
      cur = cur.select(
        base.map(col) :+ expr(nx).as("__hx") :+ expr(ny).as("__hy") :+ expr(nd).as("__hd"): _*)
    }
    cur.select(base.map(col) :+ col("__hd").as(outCol): _*)
  }

  def zorderKeySql(cols: Seq[String], bits: Int): String = {
    val k = cols.size
    cols.zipWithIndex
      .flatMap { case (c, j) =>
        (0 until bits).map(i => s"((($c >> $i) & 1) << ${i * k + j})")
      }
      .mkString(" + ")
  }

  /** Distributed global rank (dense 1-based row numbers over a TOTAL
    * order) without the single-partition window a naive
    * `row_number().over(Window.orderBy(...))` plans: range-partition on
    * the sort key, rank within each range locally, then add per-range
    * offsets computed from the range COUNTS — a metadata relation
    * (`numRange` rows) whose cumulative-sum window is the same
    * deliberately-driver-sized choice [[compactionPlan]] documents. The
    * output rank is a function of the total order alone, so it is
    * identical across reruns regardless of where sampling places the
    * range boundaries.
    *
    * `sortCols` MUST define a total order (no ties): tied rows can land
    * on either side of a range boundary and would take arbitrary relative
    * ranks. Append a unique tiebreaker column if the natural key ties.
    */
  def globalRank(
      df: DataFrame,
      sortCols: Seq[Column],
      numRange: Int = 32,
      outCol: String = "rank"): DataFrame = {
    require(sortCols.nonEmpty, "globalRank needs at least one sort column")
    require(numRange >= 1, s"numRange ($numRange) must be >= 1")
    // materialized ONCE: the locally-ranked stream feeds BOTH the offset
    // aggregate and the final join — lazy, the range shuffle + sort +
    // row_number would run per consumer (the EXPLAIN_r19 audit caught the
    // doubled rangepartitioning lineage). Callers pass metadata-width
    // relations (keys + sort columns), so the stored stream is narrow.
    val local = df
      .repartitionByRange(numRange, sortCols: _*)
      .withColumn("__pid", spark_partition_id())
      .withColumn("__lrn",
        row_number().over(
          Window.partitionBy(col("__pid")).orderBy(sortCols: _*)).cast("long"))
      .pin()
    val offs = local
      .groupBy(col("__pid")).agg(count(lit(1)).as("__c"))
      .withColumn("__off", coalesce(
        sum(col("__c")).over(Window.orderBy(col("__pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__pid"), col("__off"))
    local
      .join(broadcast(offs), Seq("__pid"))
      .withColumn(outCol, col("__lrn") + col("__off"))
      .drop("__pid", "__lrn")
  }

  /** Deterministic corpus shuffle + balanced shard assignment — the
    * data-loader handoff a training pipeline ends with: every document
    * gets (shard, pos) such that (a) the assignment is a pure function of
    * the corpus (md5-keyed, rerun-identical — no RNG, no partition-order
    * dependence), (b) shards are balanced by TOKEN count, not doc count
    * (what actually bounds a loader's step time), and (c) within a shard
    * the read order is the md5 global shuffle order (the "shuffled
    * dataset" property training jobs assume, frozen at planning time).
    *
    * Balance discipline: rank docs by (n_tokens DESC, md5 key) with
    * [[globalRank]] and deal rank r to shard via the BOUSTROPHEDON (snake)
    * rule — row r/N alternates direction, so each shard receives one doc
    * from every consecutive N-sized size band and the largest docs spread
    * 1-per-shard: the classic distributed approximation of the LPT
    * (longest-processing-time-first) bin packing this repo's
    * [[graft.sources]] manifest scan applies driver-side to SPLITS
    * (`ManifestDataSource.packBins`, the largest-file-into-
    * lightest-bin greedy loop) — LPT's "currently lightest bin" needs
    * sequential state, so here it is replaced by the snake's "next in
    * alternating order", expressed as pure rank arithmetic so it runs as
    * one codegen'd projection over the ranked relation. Snake
    * guarantee: shard token totals differ by at most one doc's tokens per
    * N-band, so max/min skew → 1 as docs/shard grows (the ScaleBench
    * `shard_plan` line measures it).
    *
    * Within-shard `pos` rides a window partitioned by shard: a shard IS
    * the unit one loader process reads (and one task writes), so the
    * per-shard linear pass is the output contract, not a hot-key defect —
    * shard COUNT scales with the corpus (fix tokens-per-shard, not
    * nShards, at 100 TB), keeping every window partition
    * loader-file-sized.
    *
    * Returns (idCol, n_tokens, shard, pos) — one row per document.
    */
  def shardPlan(
      docs: DataFrame,
      nShards: Int,
      idCol: String = "doc_id",
      textCol: String = "text",
      rankPartitions: Int = 32): DataFrame =
    shardPlanByCount(
      docs.select(
        col(idCol),
        size(filter(split(col(textCol), "\\s+"), w => w =!= lit("")))
          .cast("long").as("__n_tok")),
      nShards, idCol, "__n_tok", rankPartitions)

  /** [[shardPlan]]'s core over PRE-COUNTED units — shard any trainable
    * unit (documents, packed sequences, chunks) by an existing size
    * column: the composition `packByOffset → packContents →
    * shardPlanByCount` shards the PACKS a loader actually consumes,
    * balanced by pack tokens, without re-deriving counts from text.
    * Unit ids may be any type with a stable string form (the md5 shuffle
    * key is built from it); same snake/rank machinery, same guarantees.
    */
  def shardPlanByCount(
      units: DataFrame,
      nShards: Int,
      idCol: String,
      countCol: String,
      rankPartitions: Int = 32): DataFrame = {
    require(nShards >= 1, s"nShards ($nShards) must be >= 1")
    val base = units.select(
      col(idCol),
      col(countCol).cast("long").as("n_tokens"),
      md5(concat(lit("shard:"), col(idCol).cast("string"))).as("__key"))
    val g = col("__rn") - 1
    val assigned = globalRank(base,
        Seq(col("n_tokens").desc, col("__key").asc), rankPartitions, "__rn")
      .withColumn("shard",
        when(floor(g / nShards) % 2 === 0, g % nShards)
          .otherwise(lit(nShards - 1) - g % nShards))
    assigned
      .withColumn("pos",
        row_number().over(
          Window.partitionBy(col("shard")).orderBy(col("__key"))).cast("long"))
      .select(col(idCol), col("n_tokens"), col("shard"), col("pos"))
  }

  /** INCREMENTAL shard assignment — the maintenance half of the shard
    * family (the index-upsert discipline applied to the loader handoff):
    * a growing corpus must not re-shard 100 TB to admit a new batch, so
    * new documents are dealt onto the EXISTING shards, biggest docs to
    * lightest shards — shards ranked by current token load ascending (a
    * window over the N-row manifest, metadata-bounded), new docs ranked
    * by token count descending ([[globalRank]]), and the snake deal maps
    * doc rank → load-order shard index, so every consecutive N-sized size
    * band of new docs spreads one-per-shard starting at the lightest.
    * The shard count is read off the manifest (one metadata-sized driver
    * action, as the manifest sources parse theirs). Deterministic given
    * (manifest, batch).
    *
    * Returns (idCol, n_tokens, shard) for every new document.
    */
  def shardAssignIncremental(
      manifest: DataFrame,
      newDocs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      rankPartitions: Int = 32): DataFrame = {
    val order = manifest
      .select(col("shard"), col("n_tokens"))
      .withColumn("__sidx",
        row_number().over(
          Window.orderBy(col("n_tokens").asc, col("shard").asc)).cast("long") - 1)
      .select(col("__sidx"), col("shard"))
    val n = order.count()
    require(n >= 1, "manifest must carry at least one shard")
    val base = newDocs.select(
      col(idCol),
      size(filter(split(col(textCol), "\\s+"), w => w =!= lit("")))
        .cast("long").as("n_tokens"),
      md5(concat(lit("shard:"), col(idCol).cast("string"))).as("__key"))
    val g = col("__rn") - 1
    globalRank(base, Seq(col("n_tokens").desc, col("__key").asc),
        rankPartitions, "__rn")
      .withColumn("__sidx",
        when(floor(g / n) % 2 === 0, g % n).otherwise(lit(n - 1) - g % n))
      .join(broadcast(order), Seq("__sidx"))
      .select(col(idCol), col("n_tokens"), col("shard"))
  }

  /** Per-shard manifest over a [[shardPlan]]: doc and token totals plus an
    * order-insensitive membership checksum (the md5-prefix-sum convention
    * the q_lang_profile oracle replays) — the relation a loader's control
    * plane reads to size and verify its workers. One partial-aggregated
    * groupBy on the shard key; member LISTS stay in the plan rows
    * themselves (write them with `partitionBy(shard)` — a manifest that
    * collects members into arrays would put a whole shard's membership in
    * one aggregate buffer for no reader benefit).
    *
    * Returns (shard, n_docs, n_tokens, members_md5) ordered by shard.
    */
  def shardManifest(planned: DataFrame, idCol: String = "doc_id"): DataFrame =
    planned
      .groupBy(col("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(graft.functions.HexSlice.u(md5(concat(lit("shard:"), col(idCol).cast("string"))), 1, 8)).as("members_md5"))
      .orderBy(col("shard"))

  /** EXECUTE a [[shardPlan]] — the write half of the loader handoff (the
    * [[compactExecute]] pairing discipline: plan, then rewrite): each
    * document joins its (shard, pos) assignment (unique-key join), the
    * corpus is repartitioned BY THE SHARD COLUMN so every shard lands
    * wholly in one task, and `partitionBy(shard)` then emits EXACTLY one
    * parquet file per shard with rows in the plan's pos order
    * (`sortWithinPartitions`) — the file a loader process opens and reads
    * sequentially. One corpus shuffle total (the write's own routing);
    * the plan side is doc-metadata-width.
    *
    * Returns the read-back sharded table (docs' columns + shard + pos),
    * which must be row-identical to docs ⋈ plan — the invariant the spec
    * and the oracle row pin.
    */
  def shardWrite(
      spark: SparkSession,
      docs: DataFrame,
      nShards: Int,
      outDir: String,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    shardWritePlanned(spark, docs,
      shardPlan(docs, nShards, idCol, textCol), outDir, idCol)

  /** [[shardWrite]]'s executor over an EXPLICIT plan — write any
    * unit relation (documents, packs, chunks) against a matching
    * [[shardPlan]]/[[shardPlanByCount]] assignment: one parquet file per
    * shard, rows in the plan's pos order. The `train_data_build`
    * composition ends here — packs from [[graft.operators.Packing]] joined
    * to their by-count plan become the loader's file set.
    */
  def shardWritePlanned(
      spark: SparkSession,
      units: DataFrame,
      plan: DataFrame,
      outDir: String,
      idCol: String = "doc_id"): DataFrame = {
    units
      .join(plan.select(col(idCol), col("shard"), col("pos")), Seq(idCol))
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("pos"))
      .write.mode("overwrite").partitionBy("shard").parquet(outDir)
    // partition-column inference types `shard` as int; cast it back to the
    // plan's long so the stated invariant (read-back ≡ units ⋈ plan) holds
    // under a naive exceptAll, without caller- or oracle-side casts
    spark.read.parquet(outDir)
      .withColumn("shard", col("shard").cast("long"))
  }

  /** Position the docs of a [[shardAssignIncremental]] batch WITHIN their
    * shards, continuing from the existing manifest: `pos` in a shard plan
    * is the 1-based within-shard row number, so the manifest's `n_docs` IS
    * each shard's max pos, and the batch's positions start at n_docs + 1 —
    * the same md5-key within-shard order [[shardPlanByCount]] uses, so a
    * repeated fold (batch after batch against the FOLDED manifest) keeps
    * every shard's pos sequence dense and ascending across segments.
    *
    * One window partitioned by shard over the BATCH only (batch-sized, the
    * loader-file-sized partition argument of [[shardPlan]]) plus a
    * broadcast join against the N-row manifest.
    *
    * Returns (idCol, n_tokens, shard, pos) for every batch document.
    */
  def shardAssignPos(
      manifest: DataFrame,
      newDocs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      rankPartitions: Int = 32): DataFrame = {
    val offs = manifest.select(col("shard"), col("n_docs").as("__base"))
    shardAssignIncremental(manifest, newDocs, idCol, textCol, rankPartitions)
      .withColumn("__key", md5(concat(lit("shard:"), col(idCol).cast("string"))))
      .withColumn("__bpos",
        row_number().over(
          Window.partitionBy(col("shard")).orderBy(col("__key"))).cast("long"))
      .join(broadcast(offs), Seq("shard"))
      .select(col(idCol), col("n_tokens"), col("shard"),
        (col("__bpos") + col("__base")).as("pos"))
  }

  /** EXECUTE an incremental batch against an existing [[shardWrite]]
    * output — the write half [[shardAssignIncremental]] was missing: the
    * batch is assigned ([[shardAssignIncremental]]), positioned after each
    * shard's existing rows ([[shardAssignPos]]), and appended as ONE
    * parquet DELTA SEGMENT FILE per receiving shard, pos-ordered. The
    * existing files are never rewritten (append-only — the LetterSink
    * immutable-snapshot discipline; the spec asserts them byte-untouched),
    * so admitting a batch costs one batch-sized shuffle + N delta files,
    * never the 100 TB re-shard the operator family exists to avoid. A
    * loader reads a shard as its file set ordered by pos — dense and
    * ascending across segments by the [[shardAssignPos]] contract.
    *
    * Pair with [[shardManifestFold]] to advance the control plane; feeding
    * the FOLDED manifest back in keeps repeated batches correct (pos
    * continues from the folded n_docs; load balance follows the folded
    * token totals).
    *
    * Returns the read-back of the WHOLE sharded table (base + all
    * segments), shard typed long — must equal base plan ⋈ docs ∪ batch
    * assignments ⋈ batch, the invariant the spec and oracle row pin.
    */
  def shardWriteIncremental(
      spark: SparkSession,
      manifest: DataFrame,
      newDocs: DataFrame,
      outDir: String,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val planned = shardAssignPos(manifest, newDocs, idCol, textCol)
    newDocs
      .join(planned.select(col(idCol), col("shard"), col("pos")), Seq(idCol))
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("pos"))
      .write.mode("append").partitionBy("shard").parquet(outDir)
    spark.read.parquet(outDir)
      .withColumn("shard", col("shard").cast("long"))
  }

  /** FOLD an incremental batch's assignments into an existing
    * [[shardManifest]] — metadata-sized manifest maintenance: every
    * manifest column is an order-insensitive SUM over members (count,
    * token total, md5-prefix checksum), so the fold is one partial-agg
    * pass over the BATCH plus an N-row union — never a recompute over the
    * full corpus, yet bit-identical to `shardManifest` recomputed over the
    * union of the plan relations (the spec and the `q_shard_manifest_incr`
    * oracle row both pin fold == recompute).
    *
    * `assigned` is any relation carrying (idCol, n_tokens, shard) — the
    * output of [[shardAssignIncremental]] or [[shardAssignPos]].
    */
  def shardManifestFold(
      manifest: DataFrame,
      assigned: DataFrame,
      idCol: String = "doc_id"): DataFrame =
    manifest
      .select(col("shard"), col("n_docs"), col("n_tokens"), col("members_md5"))
      .unionByName(
        assigned.groupBy(col("shard")).agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          sum(graft.functions.HexSlice.u(md5(concat(lit("shard:"), col(idCol).cast("string"))), 1, 8)).as("members_md5")))
      .groupBy(col("shard"))
      .agg(
        sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("members_md5")).as("members_md5"))
      .orderBy(col("shard"))

  /** Per-epoch read order over a FIXED shard layout — the reshuffle a
    * file-based loader actually performs: [[shardWrite]]'s parquet files
    * are immutable, so an epoch cannot re-shard (that would rewrite
    * 100 TB); instead each worker permutes WITHIN its own shard file and
    * the coordinator permutes the file VISIT order ([[epochShardVisit]]).
    * This is the fixed-membership complement of
    * [[Sampling.epochShards]], which re-deals docs to shards per epoch —
    * right when the loader streams from an addressable store, wrong when
    * it owns immutable files.
    *
    * Order-by-hash discipline (the [[Sampling.epochShards]] argument
    * verbatim): each (epoch, doc) draws md5("salt:epoch:id"); the new
    * `pos` is the ascending-hash rank WITHIN the doc's (unchanged) shard.
    * Pure function of (salt, epoch, plan) — reruns, task retries, resumes
    * and the DuckDB oracle produce the identical schedule, and epochs are
    * pairwise uncorrelated. The window partitions by shard: a shard IS
    * one loader file, so the per-shard rank is the loader-file-sized
    * partition [[shardPlan]]'s pos contract already rides.
    *
    * Returns (idCol, n_tokens, shard, pos) — the plan with pos replaced
    * by the epoch's order; epoch 0 is already a full shuffle (there is no
    * identity epoch — pass the PLAN's own pos for sequential reads).
    */
  def epochOrderWithinShards(
      plan: DataFrame,
      epoch: Int,
      idCol: String = "doc_id",
      salt: String = "epoch"): DataFrame = {
    require(epoch >= 0, s"epoch ($epoch) must be >= 0")
    plan
      .withColumn("__k",
        md5(concat(lit(s"$salt:$epoch:"), col(idCol).cast("string"))))
      .withColumn("pos",
        row_number().over(
          Window.partitionBy(col("shard")).orderBy(col("__k"), col(idCol)))
          .cast("long"))
      .select(col(idCol), col("n_tokens"), col("shard"), col("pos"))
  }

  /** [[epochOrderWithinShards]]'s coordinator half: the per-epoch shard
    * VISIT order — a deterministic permutation of the manifest's N shards
    * per epoch (md5-ranked over the N-row manifest, metadata-bounded the
    * way every manifest window in this family is), so successive epochs
    * read the same immutable files in uncorrelated file orders. One row
    * per (epoch, shard).
    */
  def epochShardVisit(
      manifest: DataFrame,
      epochs: Int,
      salt: String = "epoch"): DataFrame = {
    require(epochs >= 1, s"epochs ($epochs) must be >= 1")
    manifest
      .select(col("shard"))
      .withColumn("epoch", explode(sequence(lit(0), lit(epochs - 1))))
      .withColumn("__k",
        md5(concat(lit(s"$salt:"), col("epoch").cast("string"),
          lit(":"), col("shard").cast("string"))))
      .withColumn("visit",
        row_number().over(
          Window.partitionBy(col("epoch")).orderBy(col("__k"), col("shard")))
          .cast("long"))
      .select(col("epoch").cast("long").as("epoch"), col("shard"), col("visit"))
  }

  /** Bloom-filter sizing advisor: per group, the optimal filter geometry
    * for its key population — m = ⌈n·(−ln p / ln²2)⌉ bits, k = ⌈m/n·ln 2⌉
    * hashes, and the resulting (1 − e^{−kn/m})^k false-positive rate —
    * sized from the KMV NDV SKETCH, not an exact distinct count: the
    * planner input is k-bounded per group (the [[Stats.columnStats]]
    * approx-NDV argument), and the md5-deterministic sketch replays
    * exactly in the oracle, so a sizing decision is reproducible. The
    * metadata twin of `q_bloom_join`'s runtime filter: THAT op uses a
    * bloom filter, this one answers how big to build it.
    *
    * One grouped sketch pass; everything after is per-group scalar
    * arithmetic on the (rounded) estimate with Scala-emitted constants.
    *
    * Returns (group, ndv_est, m_bits, k_hashes, fpp_r) ordered by group.
    */
  def bloomPlan(
      df: DataFrame,
      groupCol: String,
      keyCol: String,
      k: Int = 64,
      targetFpp: Double = 0.01): DataFrame = {
    require(targetFpp > 0 && targetFpp < 1, s"targetFpp ($targetFpp) must be in (0,1)")
    val bitsPerKey = -math.log(targetFpp) / (math.log(2.0) * math.log(2.0))
    val ln2 = math.log(2.0)
    val n = col("ndv_est")
    df
      .groupBy(col(groupCol))
      .agg(expr(s"kmv_ndv($keyCol, $k)").as("__r"))
      .select(col(groupCol), col("__r.ndv_est").as("ndv_est"))
      .withColumn("m_bits", ceil(n * lit(bitsPerKey)).cast("long"))
      .withColumn("k_hashes",
        greatest(lit(1L), ceil(col("m_bits").cast("double") / n * lit(ln2)).cast("long")))
      .withColumn("fpp_r", graft.functions.Portable.pround(
        pow(lit(1.0) - exp(-(col("k_hashes").cast("double") * n)
          / col("m_bits").cast("double")),
          col("k_hashes").cast("double")), 6))
      .orderBy(groupCol)
  }
}
