package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, In}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 READER for the reference's letter-partitioned index
  * output — the `a.txt`…`z.txt` files [[LetterSink.writeExact]] writes in
  * the golden `word:[id1 id2 ...]` format (reference src/main.cpp:298-320):
  *
  * {{{
  *   spark.read.format("graft-letters").load("/path/to/indexDir")
  *   // => (letter STRING, rank INT, word STRING, doc_ids ARRAY<BIGINT>, df INT)
  * }}}
  *
  * This closes the loop on the reference's storage format: a user can
  * QUERY the index the reference (or this engine) wrote, without ad-hoc
  * parsing. `rank` is the 1-based line position within its letter file —
  * the (df DESC, word ASC) serving order the sink wrote, preserved so
  * consumers can reason about impact ordering without re-sorting.
  *
  * Scale behavior, the point of doing this as DSv2 instead of
  * `spark.read.text` + regex:
  *   - **Partition pruning**: `SupportsPushDownFilters` consumes
  *     `letter = 'x'` / `letter IN (...)` predicates at PLANNING time —
  *     a pruned letter's file is never opened, never scheduled (the same
  *     file-skipping a parquet reader gets from hive partitioning).
  *   - **Word lookup**: the same push consumes `word = 'w'` /
  *     `word IN (...)`; each kept file is still streamed, but a line
  *     whose word is not in the set costs one `indexOf` and one set
  *     lookup — its ids are never split and no row is built.
  *   - Equality and IN lists on one column intersect (conjunctive
  *     filter semantics); both kinds are enforced exactly, so they are
  *     dropped from the residual and Spark doesn't re-evaluate them per
  *     row. Any other predicate (`df >= 5`, …) stays residual.
  *   - **Column pruning**: `SupportsPushDownRequiredColumns` — a
  *     `select(word)` never materializes posting arrays (the wide
  *     column), line parsing skips the id split entirely.
  *   - One InputPartition per letter file: the natural parallelism of
  *     the format (26 buckets), each streamed line by line.
  */
class LetterIndexDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-letters"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    LetterIndexDataSource.Schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val dir = Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException("graft-letters requires an index dir (.load(dir))"))
    new LetterIndexTable(dir)
  }
}

object LetterIndexDataSource {
  val Schema: StructType = StructType(Seq(
    StructField("letter", StringType, nullable = false),
    StructField("rank", IntegerType, nullable = false),
    StructField("word", StringType, nullable = false),
    StructField("doc_ids", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("df", IntegerType, nullable = false)))
}

class LetterIndexTable(dir: String) extends Table with SupportsRead {
  override def name(): String = s"graft-letters(`$dir`)"
  override def schema(): StructType = LetterIndexDataSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new LetterIndexScanBuilder(dir)
}

class LetterIndexScanBuilder(dir: String)
  extends ScanBuilder
  with SupportsPushDownFilters
  with SupportsPushDownRequiredColumns
  with SupportsPushDownLimit {

  private var required: StructType = LetterIndexDataSource.Schema
  private var consumed: Array[Filter] = Array.empty
  // None = no predicate on the column; Some(set) = intersection of all
  // pushed constraints on it (conjunctive filter semantics)
  private var keptLetters: Option[Set[String]] = None
  private var keptWords: Option[Set[String]] = None
  private var limit: Option[Int] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    def valueSet(column: String)(f: Filter): Option[Set[String]] = f match {
      case EqualTo(`column`, v: String) => Some(Set(v))
      case In(`column`, vs) if vs.forall(_.isInstanceOf[String]) =>
        Some(vs.map(_.asInstanceOf[String]).toSet)
      case _ => None
    }
    def kept(column: String): Option[Set[String]] =
      filters.flatMap(valueSet(column)).reduceOption(_ intersect _)
    val (handled, residual) = filters.partition(f =>
      valueSet("letter")(f).isDefined || valueSet("word")(f).isDefined)
    consumed = handled
    keptLetters = kept("letter")
    keptWords = kept("word")
    // handled filters are FULLY enforced — letters by pruning (a kept file
    // contains only its own letter), words by the reader's per-line
    // lookup — so they don't go back in the residual
    residual
  }

  override def pushedFilters(): Array[Filter] = consumed

  /** Lines are stored in (df DESC, word ASC) impact order, so a global
    * LIMIT n is served by the TOP n emitted rows of each kept file — each
    * partition stops parsing (and the id split, the expensive part) after
    * n rows pass the word lookup; Spark applies the global limit above.
    * PARTIAL push: Spark keeps its own limit operator (return false), the
    * scan just reads less.
    */
  override def pushLimit(n: Int): Boolean = {
    limit = Some(n)
    false // partial: the scan bounds per-partition rows, Spark finishes
  }

  override def build(): Scan = new LetterIndexScan(dir, required, keptLetters, keptWords, limit)
}

case class LetterFilePartition(letter: String, path: String) extends InputPartition

class LetterIndexScan(
    dir: String,
    required: StructType,
    kept: Option[Set[String]],
    words: Option[Set[String]] = None,
    limit: Option[Int] = None)
  extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = {
    def set(s: Set[String]) = s.toSeq.sorted.mkString("{", ",", "}")
    val letters = kept.map(set).getOrElse("*")
    val ws      = words.map(w => s", words=${set(w)}").getOrElse("")
    val lim     = limit.map(n => s", limit=$n").getOrElse("")
    s"graft-letters $dir, letters=$letters$ws, columns=${required.fieldNames.mkString(",")}$lim"
  }

  override def planInputPartitions(): Array[InputPartition] =
    ('a' to 'z')
      .map(_.toString)
      .filter(l => kept.forall(_.contains(l)))
      .map(l => (l, new java.io.File(dir, s"$l.txt")))
      .collect { case (l, f) if f.isFile => LetterFilePartition(l, f.getPath): InputPartition }
      .toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new LetterIndexReaderFactory(required, words, limit)
}

class LetterIndexReaderFactory(
    required: StructType,
    words: Option[Set[String]] = None,
    limit: Option[Int] = None)
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[LetterFilePartition]
    new LetterIndexPartitionReader(p.letter, p.path, required, words, limit)
  }
}

/** Streams one letter file, parsing `word:[id1 id2 ...]` per line into
  * only the pruned columns — `doc_ids`/`df` skip the id split when
  * neither is required. A pushed word set is checked on the word alone,
  * before any id split or row build; `rank` stays the line position.
  */
class LetterIndexPartitionReader(
    letter: String,
    path: String,
    required: StructType,
    words: Option[Set[String]] = None,
    limit: Option[Int] = None)
  extends PartitionReader[InternalRow] {

  private val needIds =
    required.fieldNames.contains("doc_ids") || required.fieldNames.contains("df")
  private val reader = new java.io.BufferedReader(new java.io.InputStreamReader(
    new java.io.FileInputStream(path), "UTF-8"))
  private var rank = 0
  private var emitted = 0
  private var current: InternalRow = _

  override def next(): Boolean = {
    // pushed limit: the file is in (df DESC, word ASC) serving order, so
    // the global top-n is within each file's first n EMITTED rows — stop
    // parsing (and the id split) beyond them. Counting lines read instead
    // would stop `where(word = w).limit(1)` before it reaches w.
    if (limit.exists(emitted >= _)) return false
    var line = reader.readLine()
    while (line != null) {
      rank += 1
      val colon = line.indexOf(':')
      require(colon > 0 && line.length >= colon + 3 &&
        line.charAt(colon + 1) == '[' && line.endsWith("]"),
        s"malformed index line in $path: '$line'")
      val word = line.substring(0, colon)
      if (words.forall(_.contains(word))) {
        emitted += 1
        current = row(word, line, colon)
        return true
      }
      line = reader.readLine()
    }
    false
  }

  private def row(word: String, line: String, colon: Int): InternalRow = {
    val (ids, df) =
      if (!needIds) (Array.empty[Long], 0)
      else {
        val body = line.substring(colon + 2, line.length - 1)
        val ids = if (body.isEmpty) Array.empty[Long]
                  else body.split(' ').map(_.toLong)
        (ids, ids.length)
      }
    val all = Map[String, Any](
      "letter"  -> UTF8String.fromString(letter),
      "rank"    -> rank,
      "word"    -> UTF8String.fromString(word),
      "doc_ids" -> ArrayData.toArrayData(ids),
      "df"      -> df)
    InternalRow.fromSeq(required.fieldNames.map(all(_)).toIndexedSeq)
  }

  override def get(): InternalRow = current

  override def close(): Unit = reader.close()
}
