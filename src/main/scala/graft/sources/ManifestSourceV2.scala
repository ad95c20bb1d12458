package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import graft.plans.CleanToken

/** DataSource V2 implementation of the reference's manifest-corpus format:
  *
  * {{{
  *   spark.read.format("graft-manifest").load("/path/to/manifest.txt")
  *   // => (file_id BIGINT, path STRING, line STRING)
  * }}}
  *
  * The manifest (first whitespace token = N, next N tokens = relative paths;
  * LINE POSITION defines the 1-based document id — reference
  * src/main.cpp:49-83) is parsed once at planning time (it is tiny — one
  * token per file, the same regime as Spark's own file listing); document
  * CONTENT is read distributed, one task per bin-packed group of files.
  * The id travels WITH the partition — no path join, no URI decoding — and
  * `SupportsPushDownRequiredColumns` prunes unread columns at the scan (a
  * `select(line)` never materializes paths).
  *
  * This is the line reader: one row per text line, for callers that tokenize
  * with [[graft.operators.Tokenize]]. The index build reads the same
  * manifest through [[ManifestPostingsDataSource]] instead, which tokenizes
  * inside the scan.
  *
  * Size-greedy bin packing bounds task count: files are assigned to at most
  * 32 bins by descending size, largest bin first — the classic LPT
  * heuristic, so one huge document doesn't serialize the whole scan behind it.
  */
class ManifestDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-manifest"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ManifestDataSource.Schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val path = Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException("graft-manifest requires a manifest path (.load(path))"))
    new ManifestTable(path, Option(properties.get("baseDir")))
  }
}

object ManifestDataSource {
  val Schema: StructType = StructType(Seq(
    StructField("file_id", LongType, nullable = false),
    StructField("path", StringType, nullable = false),
    StructField("line", StringType, nullable = false)))

  /** fscanf("%s") manifest semantics, shared with the planning path: first
    * token = declared count, next N tokens = paths (1-based positional ids).
    * Relative paths resolve against `base` (default: the manifest's own
    * directory — the reference resolves against its CWD, which its checker
    * always sets to the manifest dir).
    */
  def parseManifest(manifestPath: String, base: Option[String] = None): Seq[(Long, String)] = {
    val baseDir = base.getOrElse(new java.io.File(manifestPath).getAbsoluteFile.getParent)
    val tokens = scala.io.Source.fromFile(manifestPath)("UTF-8")
    try {
      val toks = tokens.mkString.split("\\s+").filter(_.nonEmpty)
      if (toks.isEmpty) Seq.empty
      else {
        val declared = toks.head.toLong
        toks.drop(1).take(declared.toInt).zipWithIndex.map { case (rel, i) =>
          ((i + 1).toLong, s"${baseDir.stripSuffix("/")}/$rel")
        }.toSeq
      }
    } finally tokens.close()
  }

  /** LPT greedy packing: files by descending size, each into the currently
    * lightest of `min(maxBins, #files)` bins; empty bins are dropped.
    */
  def packBins(files: Seq[(Long, String)], maxBins: Int): Seq[Vector[(Long, String)]] = {
    if (files.isEmpty) return Seq.empty
    val nBins = math.max(1, math.min(maxBins, files.size))
    val bins  = Array.fill(nBins)(Vector.empty[(Long, String)])
    val loads = Array.fill(nBins)(0L)
    files
      .map { case (id, p) => (id, p, new java.io.File(p).length()) }
      .sortBy(-_._3)
      .foreach { case (id, p, sz) =>
        val i = loads.indexOf(loads.min)
        bins(i) :+= ((id, p))
        loads(i) += math.max(sz, 1L)
      }
    bins.filter(_.nonEmpty).toSeq
  }
}

class ManifestTable(manifestPath: String, baseDir: Option[String]) extends Table with SupportsRead {
  override def name(): String = s"graft-manifest(`$manifestPath`)"
  override def schema(): StructType = ManifestDataSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ManifestScanBuilder(manifestPath, baseDir)
}

class ManifestScanBuilder(manifestPath: String, baseDir: Option[String])
  extends ScanBuilder with SupportsPushDownRequiredColumns {

  private var required: StructType = ManifestDataSource.Schema

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new ManifestScan(manifestPath, baseDir, required)
}

case class ManifestInputPartition(files: Seq[(Long, String)]) extends InputPartition

class ManifestScan(manifestPath: String, baseDir: Option[String], required: StructType)
  extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-manifest $manifestPath, columns=${required.fieldNames.mkString(",")}"

  override def planInputPartitions(): Array[InputPartition] = {
    val files = ManifestDataSource.parseManifest(manifestPath, baseDir)
    ManifestDataSource.packBins(files, 32).map(ManifestInputPartition(_): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ManifestReaderFactory(required)
}

class ManifestReaderFactory(required: StructType) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new ManifestPartitionReader(partition.asInstanceOf[ManifestInputPartition].files, required)
}

/** Streams each file's lines, emitting only the pruned columns. */
class ManifestPartitionReader(files: Seq[(Long, String)], required: StructType)
  extends PartitionReader[InternalRow] {

  private val fieldIdx = required.fieldNames.map {
    case "file_id" => 0
    case "path"    => 1
    case "line"    => 2
  }
  private var fileIdx = -1
  private var reader: java.io.BufferedReader = _
  private var current: InternalRow = _

  private def nextFile(): Boolean = {
    if (reader != null) reader.close()
    fileIdx += 1
    if (fileIdx >= files.size) { reader = null; false }
    else {
      reader = new java.io.BufferedReader(new java.io.InputStreamReader(
        new java.io.FileInputStream(files(fileIdx)._2), "UTF-8"))
      true
    }
  }

  override def next(): Boolean = {
    while (true) {
      if (reader == null && !nextFile()) return false
      val line = reader.readLine()
      if (line != null) {
        val (id, path) = files(fileIdx)
        val all = Array[Any](id, UTF8String.fromString(path), UTF8String.fromString(line))
        current = InternalRow.fromSeq(fieldIdx.map(all(_)).toIndexedSeq)
        return true
      }
      if (!nextFile()) return false
    }
    false
  }

  override def get(): InternalRow = current

  override def close(): Unit = if (reader != null) { reader.close(); reader = null }
}

/** DataSource V2 postings scan over the same manifest format — the
  * reference mapper (src/main.cpp:89-146,188-191) inside the scan:
  *
  * {{{
  *   spark.read.format("graft-manifest-postings").load("/path/to/manifest.txt")
  *   // => (word STRING, doc_ids ARRAY<BIGINT>): partial postings
  * }}}
  *
  * Planning reuses [[ManifestDataSource.parseManifest]] and the LPT
  * packing into `min(#files, defaultParallelism)` bins, one per core: each
  * bin emits one row per distinct word it saw, so fewer bins means fewer
  * rows to merge. Each reader tokenizes its bin's files with a byte loop
  * ([[ManifestPostingsReader]]) and emits `(word, ascending doc_ids)` rows.
  * A document's id lands in exactly one row per word, so the id sets of
  * one word are disjoint across rows, and one shuffle and a sort of the
  * concatenated lists finish the index — no token row ever leaves the
  * scan. The letter-file build shuffles the rows by first letter into
  * [[graft.sources.LetterSink.writeExact]]'s reducers;
  * [[graft.operators.InvertedIndex.mergePartials]] shuffles them by word
  * into a postings DataFrame.
  *
  * The scan reports `files`, `bytes`, `tokens` (non-empty cleaned tokens)
  * and `partial_rows` as custom metrics of its plan node.
  */
class ManifestPostingsDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-manifest-postings"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ManifestPostingsDataSource.Schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val path = Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException("graft-manifest-postings requires a manifest path (.load(path))"))
    new ManifestPostingsTable(path, Option(properties.get("baseDir")))
  }
}

object ManifestPostingsDataSource {
  val Schema: StructType = StructType(Seq(
    StructField("word", StringType, nullable = false),
    StructField("doc_ids", ArrayType(LongType, containsNull = false), nullable = false)))
}

class ManifestPostingsTable(manifestPath: String, baseDir: Option[String]) extends Table with SupportsRead {
  override def name(): String = s"graft-manifest-postings(`$manifestPath`)"
  override def schema(): StructType = ManifestPostingsDataSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new ManifestPostingsScan(manifestPath, baseDir)
}

class ManifestPostingsScan(manifestPath: String, baseDir: Option[String]) extends Scan with Batch {

  override def readSchema(): StructType = ManifestPostingsDataSource.Schema
  override def toBatch: Batch = this
  override def description(): String = s"graft-manifest-postings $manifestPath"

  override def planInputPartitions(): Array[InputPartition] = {
    val files = ManifestDataSource.parseManifest(manifestPath, baseDir)
    val cores = SparkSession.active.sparkContext.defaultParallelism
    ManifestDataSource.packBins(files, cores).map(ManifestInputPartition(_): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = ManifestPostingsReaderFactory

  override def supportedCustomMetrics(): Array[CustomMetric] =
    Array(new ManifestFilesMetric, new ManifestBytesMetric, new ManifestTokensMetric, new ManifestPartialRowsMetric)
}

object ManifestPostingsReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new ManifestPostingsReader(partition.asInstanceOf[ManifestInputPartition].files)
}

// Spark instantiates a scan's metrics by class name on the driver, so each
// needs its own class with a no-argument constructor.
abstract class ManifestScanMetric(override val name: String, override val description: String)
  extends CustomSumMetric
class ManifestFilesMetric extends ManifestScanMetric("files", "manifest files read")
class ManifestBytesMetric extends ManifestScanMetric("bytes", "document bytes read")
class ManifestTokensMetric extends ManifestScanMetric("tokens", "non-empty cleaned tokens")
class ManifestPartialRowsMetric extends ManifestScanMetric("partial_rows", "partial postings rows emitted")

/** The reference mapper over one bin of manifest files.
  *
  * Files are read in ascending id order, in 64 KiB chunks. Tokens split on
  * the six ASCII whitespace bytes (the set Java's `\s` and C's `isspace`
  * share; every other byte, NUL and invalid UTF-8 included, is token
  * content) and are cleaned by [[graft.plans.CleanToken.cleanInto]], the
  * byte loop of the line path's tokenizer. Each non-empty word maps to a
  * primitive id buffer, and a file's id is appended once per word, so the
  * buffers stay ascending and distinct with no sort.
  *
  * Rows are emitted when the bin is done, or earlier, at a file boundary,
  * once the buffers hold `flushIds` ids: task memory stays bounded at any
  * scale, and a file's ids never split across two rows of one word.
  */
class ManifestPostingsReader(files: Seq[(Long, String)], flushIds: Long = ManifestPostingsReader.FlushIds)
  extends PartitionReader[InternalRow] {

  private val pending = files.sortBy(_._1).iterator
  private var postings = new util.HashMap[UTF8String, ManifestPostingsReader.IdBuffer]()
  private var held = 0L
  private var out: util.Iterator[util.Map.Entry[UTF8String, ManifestPostingsReader.IdBuffer]] =
    util.Collections.emptyIterator()
  private var current: InternalRow = _
  private val chunk = new Array[Byte](1 << 16)
  private var token = new Array[Byte](64)
  private var nFiles, nBytes, nTokens, nRows = 0L

  override def next(): Boolean = {
    while (!out.hasNext) {
      if (pending.hasNext) {
        val (id, path) = pending.next()
        read(id, path)
        if (held >= flushIds) flush()
      } else if (held > 0) flush()
      else return false
    }
    val e = out.next()
    current = new GenericInternalRow(Array[Any](e.getKey, e.getValue.toArrayData))
    nRows += 1
    true
  }

  /** Hands the buffers over to `out` and starts empty ones. */
  private def flush(): Unit = {
    out = postings.entrySet().iterator()
    postings = new util.HashMap[UTF8String, ManifestPostingsReader.IdBuffer]()
    held = 0
  }

  private def read(id: Long, path: String): Unit = {
    val in = new java.io.FileInputStream(path)
    try {
      var len = 0
      var r = in.read(chunk)
      while (r >= 0) {
        nBytes += r
        var i = 0
        while (i < r) {
          val b = chunk(i)
          if (b == ' ' || (b >= '\t' && b <= '\r')) {
            if (len > 0) { add(id, len); len = 0 }
          } else {
            if (len == token.length) token = util.Arrays.copyOf(token, len * 2)
            token(len) = b
            len += 1
          }
          i += 1
        }
        r = in.read(chunk)
      }
      if (len > 0) add(id, len)
    } finally in.close()
    nFiles += 1
  }

  /** Cleans `token[0, rawLen)` in place and records `id` for the word. */
  private def add(id: Long, rawLen: Int): Unit = {
    val n = CleanToken.cleanInto(token, rawLen, token)
    if (n > 0) {
      nTokens += 1
      val probe = UTF8String.fromAddress(token, Platform.BYTE_ARRAY_OFFSET, n)
      var ids = postings.get(probe)
      if (ids == null) {
        ids = new ManifestPostingsReader.IdBuffer
        postings.put(probe.copy(), ids)
      }
      if (ids.add(id)) held += 1
    }
  }

  override def get(): InternalRow = current

  override def currentMetricsValues(): Array[CustomTaskMetric] = Array(
    ManifestPostingsReader.metric("files", nFiles),
    ManifestPostingsReader.metric("bytes", nBytes),
    ManifestPostingsReader.metric("tokens", nTokens),
    ManifestPostingsReader.metric("partial_rows", nRows))

  override def close(): Unit = ()
}

object ManifestPostingsReader {

  /** Ids a reader holds before it flushes at the next file boundary:
    * 1 Mi ids, 8 MiB of id buffers plus at most as many words.
    */
  val FlushIds: Long = 1L << 20

  /** Ascending distinct ids of one word: appends skip a repeat of the last id. */
  final class IdBuffer {
    private var ids = new Array[Long](2)
    private var n = 0

    def add(id: Long): Boolean =
      if (n > 0 && ids(n - 1) == id) false
      else {
        if (n == ids.length) ids = util.Arrays.copyOf(ids, n * 2)
        ids(n) = id
        n += 1
        true
      }

    def toArrayData: ArrayData = UnsafeArrayData.fromPrimitiveArray(ids, Platform.LONG_ARRAY_OFFSET, n, 8)
  }

  private def metric(metricName: String, v: Long): CustomTaskMetric = new CustomTaskMetric {
    override def name(): String = metricName
    override def value(): Long = v
  }
}
