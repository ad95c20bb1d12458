package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

import org.apache.spark.TestParallelism.withDefaultParallelism
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

import graft.operators.{InvertedIndex, Tokenize}
import graft.sources.LetterSink

/** The exact sink must rank and write the 26 letter files byte-for-byte like
  * the reference, on every host: a hand-built corpus under
  * `src/test/resources/ranking` is checked against a plain-Scala model of
  * the reference, and so is the byte-adversarial corpus under
  * `src/test/resources/bytes`; every such check also asserts that the
  * output directory holds the 26 letter files and nothing else. The exact
  * sink's union of a word's rows, its rewrite of a used directory and its
  * job shape are pinned.
  */
class LetterSinkSpec extends SparkSpec {

  test("mergePartitioned == mergeExact per letter, snapshots immutable, on both golden corpora") {
    val refBase = "/root/reference/checker"
    for ((manifest, tag) <- Seq("test_small.txt" -> "small", "test.txt" -> "large")) {
      // base snapshot: the golden corpus index, written exact (the DSv2
      // reader consumes the reference's own a.txt..z.txt format)
      val postings = Engine.indexFromManifest(spark, s"$refBase/$manifest", refBase)
      val baseDir = Files.createTempDirectory(s"graft-merge-base-$tag").toString
      LetterSink.writeExact(postings, baseDir)
      val baseSnapshot = letterFiles(baseDir)
      // delta: a small synthetic batch with one overlapping and one new word
      import spark.implicits._
      val delta = InvertedIndex.postings(
        Tokenize.tokens(
          Seq((90001L, "the zebra quibbles"), (90002L, "zebra zebra alike"))
            .toDF("doc_id", "text"),
          "text", Seq("doc_id")))
      val exactDir = Files.createTempDirectory(s"graft-merge-exact-$tag").toString
      LetterSink.mergeExact(spark, baseDir, delta, exactDir)
      // the merge really merged (the delta's words are in the z/q buckets)
      assert(letterFiles(exactDir)('z').contains("zebra:["),
        s"$tag: merged snapshot must contain the delta's new word")
      assertUnchanged(baseDir, baseSnapshot, tag)
    }
  }

  private def letterFiles(dir: String): Map[Char, String] =
    ('a' to 'z').map { ch =>
      ch -> new String(Files.readAllBytes(java.nio.file.Paths.get(dir, s"$ch.txt")), "UTF-8")
    }.toMap

  /** Snapshot immutability: a merge leaves its input dir's bytes untouched. */
  private def assertUnchanged(dir: String, before: Map[Char, String], tag: String): Unit = {
    val now = letterFiles(dir)
    ('a' to 'z').foreach { ch =>
      assert(now(ch) == before(ch), s"$tag: merge mutated the input snapshot ($ch.txt)")
    }
  }

  /** The reference program in plain Scala, for the ranking golden tests:
    * FIXTURES §4 tokenizer (whitespace split, byte-wise lowercase, keep the
    * [a-z] bytes, drop empties), one posting set per word, and 26 letter
    * files ranked df DESC then word by unsigned UTF-8 bytes, each line
    * `word:[ids]` plus a newline, an empty file for an empty letter.
    */
  private object Model {
    def tokens(text: String): Seq[String] =
      text.split("[ \t\n\u000B\f\r]+").toSeq
        .map(t => new String(t.getBytes(UTF_8)
          .map(b => if (b >= 'A' && b <= 'Z') (b + 32).toByte else b)
          .filter(b => b >= 'a' && b <= 'z'), UTF_8))
        .filter(_.nonEmpty)

    def postings(docs: Seq[(Long, String)]): Map[String, Set[Long]] =
      docs.flatMap { case (id, text) => tokens(text).map(_ -> id) }
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

    def merge(a: Map[String, Set[Long]], b: Map[String, Set[Long]]): Map[String, Set[Long]] =
      (a.keySet ++ b.keySet).map(w => w -> (a.getOrElse(w, Set.empty) ++ b.getOrElse(w, Set.empty))).toMap

    def files(index: Map[String, Set[Long]]): Map[Char, String] =
      ('a' to 'z').map { ch =>
        val lines = index.toSeq.filter(_._1.startsWith(ch.toString))
          .sortWith { case ((w1, ids1), (w2, ids2)) =>
            if (ids1.size != ids2.size) ids1.size > ids2.size
            else java.util.Arrays.compareUnsigned(w1.getBytes(UTF_8), w2.getBytes(UTF_8)) < 0
          }
          .map { case (w, ids) => s"$w:[${ids.toSeq.sorted.mkString(" ")}]\n" }
        ch -> lines.mkString
      }.toMap
  }

  private val rankingDir = Paths.get(getClass.getResource("/ranking/manifest.txt").toURI).getParent
  private val bytesDir = Paths.get(getClass.getResource("/bytes/manifest.txt").toURI).getParent

  /** A corpus's documents with the manifest's positional 1-based ids. */
  private def corpusDocs(dir: java.nio.file.Path): Seq[(Long, String)] = {
    val manifest = new String(Files.readAllBytes(dir.resolve("manifest.txt")), UTF_8)
      .split("\\s+").filter(_.nonEmpty)
    manifest.slice(1, 1 + manifest(0).toInt).toSeq.zipWithIndex.map { case (f, i) =>
      (i + 1L) -> new String(Files.readAllBytes(dir.resolve(f)), UTF_8)
    }
  }

  private lazy val rankingDocs: Seq[(Long, String)] = corpusDocs(rankingDir)

  private lazy val deltaDocs: Seq[(Long, String)] =
    new String(Files.readAllBytes(rankingDir.resolve("delta.tsv")), UTF_8)
      .split('\n').filter(_.nonEmpty).toSeq
      .map { l => val Array(id, text) = l.split('\t'); id.toLong -> text }

  private def rankingPostings =
    Engine.indexFromManifest(spark, rankingDir.resolve("manifest.txt").toString, rankingDir.toString)

  private def deltaPostings = {
    import spark.implicits._
    InvertedIndex.postings(Tokenize.tokens(deltaDocs.toDF("doc_id", "text"), "text", Seq("doc_id")))
  }

  /** `dir` holds exactly `a.txt`…`z.txt` (no temp, checksum or marker
    * files), each with `want`'s bytes, and `paths` lists them a…z.
    */
  private def assertFiles(dir: String, paths: Seq[String], want: Map[Char, String]): Unit = {
    assert(paths == ('a' to 'z').map(ch => Paths.get(dir, s"$ch.txt").toString))
    val names = new java.io.File(dir).list().sorted.toSeq
    assert(names == ('a' to 'z').map(ch => s"$ch.txt"), s"$dir holds ${names.mkString(" ")}")
    ('a' to 'z').foreach { ch =>
      val got = Files.readAllBytes(Paths.get(dir, s"$ch.txt"))
      assert(got.sameElements(want(ch).getBytes(UTF_8)),
        s"$ch.txt:\n${new String(got, UTF_8)}--- want:\n${want(ch)}")
    }
  }

  test("writeExact == the plain-Scala reference model, byte for byte, on the hand-built corpus") {
    val want = Model.files(Model.postings(rankingDocs))
    // the model itself, pinned on the cases the corpus was built for: a df
    // tie broken by word (bag < ban < bat), a higher df above an earlier
    // word (cow above cab), a prefix before its extension (ab < abc), the
    // FIXTURES §4 tokenizer rows, and empty letters
    assert(want('a') == "ab:[1 2]\nabc:[1 2]\nabcdef:[3]\n")
    assert(want('b') == "bag:[1 2]\nban:[3 4]\nbat:[1 2]\n")
    assert(want('c') == "cow:[1 2 3]\ncab:[1]\ncafs:[2]\n")
    assert(Seq('d', 'h', 'q', 'r', 'w', 'x').map(want) ==
      Seq("dont:[1]\n", "hello:[3]\n", "quoted:[3]\n", "rd:[3]\n", "wellknown:[2]\n", "xyz:[2]\n"))
    assert(Seq('e', 'n', 's', 'y').forall(want(_).isEmpty))
    val out = Files.createTempDirectory("graft-rank-golden").toString
    assertFiles(out, LetterSink.writeExact(rankingPostings, out), want)
  }

  test("mergeExact == the model's merged index, byte for byte, on the hand-built corpus") {
    val base = Files.createTempDirectory("graft-rank-base").toString
    LetterSink.writeExact(rankingPostings, base)
    val baseSnapshot = letterFiles(base)
    val want = Model.files(Model.merge(Model.postings(rankingDocs), Model.postings(deltaDocs)))
    // the delta reorders a bucket (abc now outranks ab) and fills an empty one (n)
    assert(want('a') == "abc:[1 2 6]\nab:[1 2]\nabcdef:[3]\n")
    assert(want('n') == "nd:[7]\n")
    val out = Files.createTempDirectory("graft-rank-merged").toString
    assertFiles(out, LetterSink.mergeExact(spark, base, deltaPostings, out), want)
    assertUnchanged(base, baseSnapshot, "hand-built")
  }

  test("writeExact and mergeExact == the plain-Scala model on the byte-adversarial corpus") {
    val docs = corpusDocs(bytesDir)
    val postings = Engine.indexFromManifest(spark, bytesDir.resolve("manifest.txt").toString, bytesDir.toString)
    val want = Model.files(Model.postings(docs))
    // invalid UTF-8 and NUL bytes vanish, the file listed twice posts both ids
    assert(want('o') == "omega:[6]\nop:[3]\n")
    assert(want('i').startsWith("iota:[2 7]\n"))
    val out = Files.createTempDirectory("graft-bytes-golden").toString
    assertFiles(out, LetterSink.writeExact(postings, out), want)
    val merged = Model.files(Model.merge(Model.postings(docs), Model.postings(deltaDocs)))
    val mergedOut = Files.createTempDirectory("graft-bytes-merged").toString
    assertFiles(mergedOut, LetterSink.mergeExact(spark, out, deltaPostings, mergedOut), merged)
  }

  test("buildIndex into a used directory rewrites every file, emptied letters included") {
    // the byte-adversarial corpus fills letters the ranking corpus leaves
    // empty: the second build must empty those files, not leave them stale
    val first = Model.files(Model.postings(corpusDocs(bytesDir)))
    val want = Model.files(Model.postings(rankingDocs))
    assert(('a' to 'z').exists(ch => first(ch).nonEmpty && want(ch).isEmpty))
    val out = Files.createTempDirectory("graft-rebuild").toString
    assertFiles(out, Engine.buildIndex(spark, bytesDir.resolve("manifest.txt").toString, bytesDir.toString, out), first)
    assertFiles(out, Engine.buildIndex(spark, rankingDir.resolve("manifest.txt").toString, rankingDir.toString, out), want)
  }

  test("writeExact ranks words in Spark's binary UTF-8 order and drops letters outside a-z") {
    import spark.implicits._
    // U+FF21 sorts before U+1F600 in UTF-8 bytes (EF.. < F0..) but after it
    // in UTF-16 code units (FF21 > D83D): String.compareTo would swap them
    val words = Seq("ab" -> 3L, "aＡ" -> 1L, "a😀" -> 2L, "b" -> 1L, "b" -> 2L,
      "bＡ" -> 1L, "bＡ" -> 2L, "Zed" -> 4L, "été" -> 5L, "" -> 6L)
    val want = Model.files(words.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap)
    assert(want('a') == "ab:[3]\naＡ:[1]\na😀:[2]\n")
    val out = Files.createTempDirectory("graft-rank-utf8").toString
    val postings = InvertedIndex.postings(words.map(_.swap).toDF("doc_id", "word"))
    assertFiles(out, LetterSink.writeExact(postings, out), want)
  }

  test("buildIndex == the model at default parallelism 1 and 4, on both corpora") {
    // the build feeds the scan's per-bin partial rows straight to the sink,
    // so at 4 cores a word's ids arrive on up to 4 rows, and the reducers
    // own letters however the 26 hash into the partitions
    for (dir <- Seq(rankingDir, bytesDir); cores <- Seq(1, 4)) {
      val want = Model.files(Model.postings(corpusDocs(dir)))
      val out = Files.createTempDirectory(s"graft-build-$cores").toString
      val paths = withDefaultParallelism(spark.sparkContext, cores) {
        Engine.buildIndex(spark, dir.resolve("manifest.txt").toString, dir.toString, out)
      }
      assertFiles(out, paths, want)
    }
  }

  test("writeExact unions a word's rows: disjoint, overlapping and empty lists") {
    import spark.implicits._
    val rows = Seq(
      "ant" -> Seq(4L, 9L), "ant" -> Seq(1L, 7L), // disjoint
      "bee" -> Seq(1L, 2L, 5L), "bee" -> Seq(2L, 5L, 8L), "bee" -> Seq(5L), // overlapping
      "cat" -> Seq(3L), "cat" -> Seq.empty[Long], // one list empty
      "cow" -> Seq(1L, 2L), "dog" -> Seq(6L))
    val want = Model.files(rows.groupBy(_._1).view.mapValues(_.flatMap(_._2).toSet).toMap)
    assert(want('a') == "ant:[1 4 7 9]\n")
    assert(want('b') == "bee:[1 2 5 8]\n")
    assert(want('c') == "cow:[1 2]\ncat:[3]\n")
    val out = Files.createTempDirectory("graft-union").toString
    // three input partitions, so one word's rows come from different tasks
    assertFiles(out, LetterSink.writeExact(rows.toDF("word", "doc_ids").repartition(3), out), want)
  }

  test("mergeExact with a delta that re-ingests base doc ids == Model.merge") {
    val base = Files.createTempDirectory("graft-reingest-base").toString
    LetterSink.writeExact(rankingPostings, base)
    // docs 1 and 3 again, unchanged, and doc 2 with a word of doc 4
    val again = rankingDocs.filter(d => d._1 == 1L || d._1 == 3L) ++
      rankingDocs.filter(_._1 == 2L).map { case (id, text) => id -> s"$text zoo" }
    val want = Model.files(Model.merge(Model.postings(rankingDocs), Model.postings(again)))
    assert(want('z') == "zoo:[2 4]\n")
    assert(want('c') == "cow:[1 2 3]\ncab:[1]\ncafs:[2]\n")
    val delta = {
      import spark.implicits._
      InvertedIndex.postings(Tokenize.tokens(again.toDF("doc_id", "text"), "text", Seq("doc_id")))
    }
    val out = Files.createTempDirectory("graft-reingest-merged").toString
    assertFiles(out, LetterSink.mergeExact(spark, base, delta, out), want)
  }

  /** The jobs Spark started for `body` and every physical plan it described
    * (each SQL execution's initial plan and each adaptive re-plan), seen by
    * a SparkListener.
    */
  private def jobsAndPlans(body: => Unit): (Int, Seq[SparkPlanInfo]) = {
    val sc = spark.sparkContext
    val group = s"letter-sink-shape-${System.nanoTime()}"
    val marker = s"$group-marker"
    val jobs = new AtomicInteger
    val plans = new ConcurrentLinkedQueue[SparkPlanInfo]
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).foreach { g =>
          if (g == group) jobs.incrementAndGet()
          else if (g == marker) drained.countDown()
        }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.add(s.sparkPlanInfo)
        case u: SparkListenerSQLAdaptiveExecutionUpdate => plans.add(u.sparkPlanInfo)
        case _ => ()
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "letter sink shape")
      body
      // a listener sees events in the order they were posted, so once the
      // marker job's start arrives, every event of `body` has arrived
      sc.setJobGroup(marker, "letter sink shape drain")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus did not drain")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    (jobs.get, plans.asScala.toSeq)
  }

  /** A plan's nodes, adaptive query stages included. */
  private def nodes(p: SparkPlanInfo): Seq[SparkPlanInfo] = p +: p.children.flatMap(nodes)

  test("exact sink shape: one letter exchange, no aggregate, no join, no range sort") {
    val base = Files.createTempDirectory("graft-shape-base").toString
    val (buildJobs, buildPlans) = jobsAndPlans(
      Engine.buildIndex(spark, rankingDir.resolve("manifest.txt").toString, rankingDir.toString, base))
    val out = Files.createTempDirectory("graft-shape-merged").toString
    val (mergeJobs, mergePlans) = jobsAndPlans(LetterSink.mergeExact(spark, base, deltaPostings, out))
    def show(plans: Seq[SparkPlanInfo]) = plans.map(p => nodes(p).map(_.simpleString).mkString("\n")).mkString("\n\n")
    for ((name, plans) <- Seq("buildIndex" -> buildPlans, "mergeExact" -> mergePlans)) {
      assert(plans.nonEmpty, s"$name: no plan was observed")
      assert(!plans.flatMap(nodes).exists(_.simpleString.toLowerCase.contains("rangepartitioning")),
        s"$name sorts globally:\n${show(plans)}")
    }
    // the build: the scan's rows shuffle once, by first letter, and the
    // reducers merge them; no word aggregate runs before or after
    buildPlans.foreach { p =>
      val exchanges = nodes(p).filter(_.nodeName == "Exchange").map(_.simpleString)
      assert(exchanges.size == 1 && exchanges.head.contains("hashpartitioning(substring(word"),
        s"buildIndex: one exchange, on the first letter:\n${show(Seq(p))}")
      assert(!nodes(p).exists(n => n.nodeName == "HashAggregate" || n.nodeName == "ObjectHashAggregate"),
        s"buildIndex aggregates:\n${show(Seq(p))}")
    }
    // the merge: the snapshot's rows and the delta's meet in the reducers
    val joins = Set("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    assert(!mergePlans.flatMap(nodes).exists(n => joins(n.nodeName)), s"mergeExact joins:\n${show(mergePlans)}")
    // buildIndex: the letter exchange's map stage, then the reduce job;
    // mergeExact: the delta aggregate's map stage, the letter exchange's
    // (over the snapshot scan and the delta), then the reduce job
    assert(buildJobs == 2, s"buildIndex jobs\n${show(buildPlans)}")
    assert(mergeJobs == 3, s"mergeExact jobs\n${show(mergePlans)}")
  }
}
