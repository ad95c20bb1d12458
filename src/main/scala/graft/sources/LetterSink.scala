package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.nio.file.StandardCopyOption.{ATOMIC_MOVE, REPLACE_EXISTING}
import java.util

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Partitioned text sink matching the reference byte-for-byte (O11,
  * reference src/main.cpp:298-320): 26 files `a.txt`…`z.txt`, line format
  * `word:[id1 id2 ... idN]` (no space after ':', ids space-separated,
  * 1-based, ascending), lines ordered df DESC then word ASC, and EMPTY
  * buckets still emit an (empty) file.
  *
  * `writeExact` is the reference's reduce phase (src/main.cpp:172-236). It
  * takes rows of `(word, doc_ids)` whose lists are each ascending; one word
  * may span several rows, and its line carries the sorted distinct union of
  * its lists, so a build feeds the scan's per-bin partial rows and a merge
  * feeds the old snapshot's rows next to the delta's. The rows shuffle once
  * by first letter, and each reduce task owns whole letters: it merges,
  * ranks and formats them and writes their files itself.
  */
object LetterSink {

  /** Exact sink: returns the 26 output paths, a…z.
    *
    * One letter exchange into `defaultParallelism` partitions (the count the
    * scan bins by; given explicitly, so AQE cannot fold the small exchange
    * into one task), then one job whose tasks each write the files of the
    * letters they own and return those letters. Each file goes through a
    * temp file named by the task attempt and an atomic rename, so a retried
    * or speculative attempt rewrites identical bytes and a reader never sees
    * a partial file. Executors write with `java.nio`, so they must see
    * `outDir` at the driver's path, as the manifest scan already requires of
    * the corpus. Rows whose word does not start with a-z are dropped; the
    * driver writes an empty file for every letter no task wrote, as x.txt is
    * empty in the golden output.
    */
  def writeExact(postings: DataFrame, outDir: String): Seq[String] = {
    val out = Paths.get(outDir)
    Files.createDirectories(out)
    val dir = out.toAbsolutePath.toString
    val byLetter = postings
      .select(col("word"), col("doc_ids").cast(ArrayType(LongType)))
      .repartition(postings.sparkSession.sparkContext.defaultParallelism, substring(col("word"), 1, 1))
    val qe = byLetter.queryExecution
    val written = SQLExecution.withNewExecutionId(qe, Some("LetterSink.writeExact")) {
      qe.toRdd.mapPartitions(reduceLetters(_, dir)).collect()
    }.toSet
    (0 until 26).map { l =>
      val p = out.resolve(s"${('a' + l).toChar}.txt")
      if (!written(l)) Files.write(p, Array.emptyByteArray)
      p.toString
    }
  }

  /** One word's ids: its first list as it came, later lists appended. */
  private final class Entry(val word: UTF8String, var ids: Array[Long]) {
    var df: Int = ids.length
    var merged = false

    def add(more: Array[Long]): Unit = {
      if (df + more.length > ids.length) ids = util.Arrays.copyOf(ids, math.max(df + more.length, 2 * ids.length))
      System.arraycopy(more, 0, ids, df, more.length)
      df += more.length
      merged = true
    }

    /** The sorted distinct union of the lists added. */
    def union(): Unit = if (merged) {
      util.Arrays.sort(ids, 0, df)
      var n = 0
      var i = 0
      while (i < df) {
        if (n == 0 || ids(n - 1) != ids(i)) { ids(n) = ids(i); n += 1 }
        i += 1
      }
      df = n
    }
  }

  /** df DESC, then word ASC in Spark's binary UTF-8 order. */
  private val byRank: util.Comparator[Entry] = (x, y) =>
    if (x.df != y.df) Integer.compare(y.df, x.df) else x.word.binaryCompare(y.word)

  /** One reduce task: merges the lists of each word it receives, then ranks,
    * formats and writes each of its letters into `dir`. Returns the index
    * (letter - 'a') of every letter it wrote. Shuffle rows are reused
    * buffers, so the word and the ids are copied.
    */
  private def reduceLetters(rows: Iterator[InternalRow], dir: String): Iterator[Int] = {
    val words = new util.HashMap[UTF8String, Entry]()
    rows.foreach { r =>
      if (!r.isNullAt(0)) {
        val word = r.getUTF8String(0)
        if (word.numBytes > 0 && word.getByte(0) >= 'a' && word.getByte(0) <= 'z') {
          val ids = if (r.isNullAt(1)) Array.emptyLongArray else r.getArray(1).toLongArray()
          val e = words.get(word)
          if (e == null) { val w = word.copy(); words.put(w, new Entry(w, ids)) }
          else e.add(ids)
        }
      }
    }
    val letters = Array.fill(26)(new util.ArrayList[Entry]())
    words.values.forEach { e => e.union(); letters(e.word.getByte(0) - 'a').add(e) }
    val attempt = TaskContext.get().taskAttemptId()
    (0 until 26).iterator.filter(!letters(_).isEmpty).map { l =>
      letters(l).sort(byRank)
      val out = new LineBuffer
      letters(l).forEach(out.line)
      val name = s"${('a' + l).toChar}.txt"
      val tmp = Paths.get(dir, s".$name.$attempt.tmp")
      out.writeTo(tmp)
      Files.move(tmp, Paths.get(dir, name), ATOMIC_MOVE, REPLACE_EXISTING)
      l
    }
  }

  /** Growable bytes of one letter file. */
  private final class LineBuffer {
    private var buf = new Array[Byte](1 << 12)
    private var len = 0

    private def ensure(k: Int): Unit =
      if (len + k > buf.length) buf = util.Arrays.copyOf(buf, math.max(len + k, 2 * buf.length))

    private def put(b: Byte): Unit = { ensure(1); buf(len) = b; len += 1 }

    private def put(id: Long): Unit =
      if (id < 0) java.lang.Long.toString(id).foreach(c => put(c.toByte))
      else {
        var digits = 1
        var t = id / 10
        while (t > 0) { digits += 1; t /= 10 }
        ensure(digits)
        var v = id
        var i = len + digits - 1
        while (i >= len) { buf(i) = ('0' + v % 10).toByte; v /= 10; i -= 1 }
        len += digits
      }

    /** `word:[id id ...]` and a newline. */
    def line(e: Entry): Unit = {
      val n = e.word.numBytes
      ensure(n)
      e.word.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + len)
      len += n
      put(':'.toByte)
      put('['.toByte)
      var i = 0
      while (i < e.df) {
        if (i > 0) put(' '.toByte)
        put(e.ids(i))
        i += 1
      }
      put(']'.toByte)
      put('\n'.toByte)
    }

    def writeTo(p: Path): Unit = {
      val os = Files.newOutputStream(p)
      try os.write(buf, 0, len) finally os.close()
    }
  }

  /** Incremental maintenance of an ON-DISK letter index: read the existing
    * `a.txt`…`z.txt` snapshot back through the `graft-letters` DSv2 reader
    * and hand its rows, next to the delta's `(word, doc_ids)`, to
    * [[writeExact]], whose per-word union gives
    * [[graft.operators.InvertedIndex.mergeIndexes]]' `array_union` without
    * a join. The merged result goes to `outDir` as a NEW snapshot — the
    * input dir is never touched (immutable-snapshot semantics: readers of
    * the old index keep a consistent view while the merge runs, exactly how
    * an at-scale index rolls versions). Completes the format's lifecycle:
    * build → write → read → query → MAINTAIN, all in the reference's own
    * file format.
    *
    * Returns the 26 output paths.
    */
  def mergeExact(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      delta: DataFrame,
      outDir: String): Seq[String] = {
    val existing = spark.read.format("graft-letters").load(indexDir)
      .select(col("word"), col("doc_ids"))
    writeExact(existing.unionByName(delta.select(col("word"), col("doc_ids"))), outDir)
  }
}
