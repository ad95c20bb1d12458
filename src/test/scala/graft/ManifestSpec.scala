package graft

import java.nio.file.{Files, Paths}

import graft.sources.ManifestDataSource

/** Manifest parsing must match the reference's fscanf("%s") semantics:
  * blank lines don't consume ids, exactly N declared paths are read, and
  * file paths with URI-special characters survive the corpus read.
  */
class ManifestSpec extends SparkSpec {

  test("fscanf token semantics: blank lines, count sharing a line, trailing junk") {
    val dir = Files.createTempDirectory("graft-manifest")
    Files.writeString(dir.resolve("f1.txt"), "alpha one\n")
    Files.writeString(dir.resolve("f2.txt"), "beta two\n")
    Files.writeString(dir.resolve("f3.txt"), "gamma three\n")
    val manifest = dir.resolve("m.txt")
    // count and first path share a line; blank lines; junk after the 3rd path
    Files.writeString(manifest, "3 f1.txt\n\nf2.txt\n\n\nf3.txt\nTRAILING_JUNK_NOT_A_DOC\n")
    val refs = ManifestDataSource.parseManifest(manifest.toString, Some(dir.toString))
    assert(refs == Seq((1L, s"$dir/f1.txt"), (2L, s"$dir/f2.txt"), (3L, s"$dir/f3.txt")))
    // paths resolve against the manifest's own directory by default
    assert(ManifestDataSource.parseManifest(manifest.toString) == refs)
  }

  test("paths with URI-special characters (+, %) survive the corpus join") {
    val dir = Files.createTempDirectory("graft-manifest-enc")
    Files.writeString(dir.resolve("a+b.txt"), "plussy words\n")
    Files.writeString(dir.resolve("c%20d.txt"), "percenty words\n")
    val manifest = dir.resolve("m.txt")
    Files.writeString(manifest, "2\na+b.txt\nc%20d.txt\n")
    val postings = Engine
      .indexFromManifest(spark, manifest.toString, dir.toString)
      .orderBy("word")
      .collect()
      .map(r => (r.getString(0), r.getSeq[Long](1)))
    assert(postings.toSeq == Seq(
      ("percenty", Seq(2L)), ("plussy", Seq(1L)), ("words", Seq(1L, 2L))))
  }
}
