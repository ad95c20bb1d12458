package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import org.apache.spark.unsafe.types.UTF8String

/** [[graft.plans.HexSliceLong]] replaced every
  * `conv(substring(hexDigest, pos, len), 16, 10).cast(long|double|int)`
  * draw site in the r20 optimization round — this spec pins exact
  * equality with the expression chain it replaced, on the input class the
  * contract names (lowercase-hex digests), both at the unit level
  * (ScalaCheck vs BigInt/parseLong) and end-to-end through codegen vs
  * `conv` itself on real md5/sha2 output.
  */
class HexSliceLongSpec extends SparkSpec {

  private val hexChar: Gen[Char] = Gen.oneOf("0123456789abcdef".toSeq)

  private def checkProp(prop: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(500), prop)
    assert(res.passed, res.status.toString)
  }

  test("parse == java.lang.Long.parseLong(substring, 16) on random hex digests") {
    val gen = for {
      n   <- Gen.choose(16, 64)
      s   <- Gen.listOfN(n, hexChar).map(_.mkString)
      pos <- Gen.choose(1, n)
      len <- Gen.choose(1, 15)
    } yield (s, pos, len)
    checkProp(Prop.forAll(gen) { case (s, pos, len) =>
      val sub = s.substring(pos - 1, math.min(s.length, pos - 1 + len))
      val expect = if (sub.isEmpty) 0L else java.lang.Long.parseLong(sub, 16)
      graft.plans.HexSliceLong.parse(UTF8String.fromString(s), pos, len) == expect
    })
  }

  test("valid-prefix rule: parsing stops at the first non-hex byte, like conv") {
    assert(graft.plans.HexSliceLong.parse(UTF8String.fromString("ab:cd"), 1, 5) == 0xabL)
    assert(graft.plans.HexSliceLong.parse(UTF8String.fromString("zzzz"), 1, 4) == 0L)
    // slice past the end reads the available prefix
    assert(graft.plans.HexSliceLong.parse(UTF8String.fromString("ff"), 1, 8) == 0xffL)
  }

  test("end-to-end == conv(substring(..), 16, 10) casts on real digests, through codegen") {
    import spark.implicits._
    val df = (1L to 2000L).toDF("id")
      .select(col("id"), md5(concat(lit("hx:"), col("id").cast("string"))).as("dg"),
        sha2(col("id").cast("string"), 256).as("dg2"))
    val cmp = df.select(
      (graft.functions.HexSlice.u(col("dg"), 1, 13) ===
        conv(substring(col("dg"), 1, 13), 16, 10).cast("long")).as("a"),
      (graft.functions.HexSlice.u(col("dg"), 9, 8).cast("double") ===
        conv(substring(col("dg"), 9, 8), 16, 10).cast("double")).as("b"),
      (graft.functions.HexSlice.u(col("dg2"), 50, 15) ===
        conv(substring(col("dg2"), 50, 15), 16, 10).cast("long")).as("c"),
      // 15 nibbles = 60 bits: both paths must round to the same double
      (graft.functions.HexSlice.u(col("dg2"), 1, 15).cast("double") ===
        conv(substring(col("dg2"), 1, 15), 16, 10).cast("double")).as("d"))
    val bad = cmp.where(!col("a") || !col("b") || !col("c") || !col("d")).count()
    assert(bad == 0L)
    // NULL propagates like the chain it replaced
    val nulls = Seq[Option[String]](None).toDF("dg")
      .select(graft.functions.HexSlice.u(col("dg"), 1, 8).as("v"))
      .collect()
    assert(nulls.head.isNullAt(0))
  }
}
