package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{GraftFunctions, Shingles}

/** Native Catalyst expressions (graft.functions.Native): the one SQL
  * registration, graft_simhash64, via GraftExtensions (SparkTestBase's
  * session sets spark.sql.extensions=graft.functions.GraftExtensions), the
  * Column wrappers, kernel equivalence, null propagation, and a
  * CODEGEN_ONLY pass proving every doGenCode actually compiles (no silent
  * interpreter fallback).
  */
class NativeFunctionsSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def bytes(s: String) = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  test("SQL surface: extension-registered functions match the Scala kernels") {
    val row = spark.sql(
      """SELECT
        |  graft_simhash64(encode('the quick brown fox', 'UTF-8'), 4) AS sh
        |""".stripMargin).collect()(0)
    val q = bytes("the quick brown fox")
    assert(row.getLong(0) == Shingles.simhash64(Shingles.allHashes(q, 4)))
  }

  test("null propagation: null-intolerant expressions yield null, never throw") {
    val row = spark.sql(
      """SELECT
        |  graft_simhash64(CAST(NULL AS BINARY), 4) AS sh
        |""".stripMargin).collect()(0)
    assert(row.isNullAt(0))
  }

  test("CODEGEN_ONLY: every native expression compiles (no interpreter fallback)") {
    val prev = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val df = Seq("abcdef", "same").toDF("a")
        .select(GraftFunctions.simhash64(encode(col("a"), "UTF-8"), 3).as("sh"))
      val rows = df.collect()
      for ((a, row) <- Seq("abcdef", "same").zip(rows))
        assert(row.getLong(0) == Shingles.simhash64(Shingles.allHashes(bytes(a), 3)))
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
        case None => spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
  }

  test("edge kernels: empty inputs, short docs, equal arrays") {
    assert(graft.functions.NativeKernels.lcp(Array.emptyByteArray, bytes("x")) == 0L)
    assert(graft.functions.NativeKernels.lcp(bytes("abc"), bytes("abc")) == 3L)
    // doc shorter than n: simhash of zero shingles = 0
    val row = spark.sql(
      "SELECT graft_simhash64(encode('ab', 'UTF-8'), 4) AS sh").collect()(0)
    assert(row.getLong(0) == 0L)
  }

  test("winnow: column output matches the kernel; guarantee holds") {
    val t = "the winnowing guarantee says shared runs share a fingerprint"
    val got = Seq(t).toDF("t")
      .select(GraftFunctions.winnow(encode(col("t"), "UTF-8"), 8, 4).as("fp"))
      .collect()(0).getSeq[Long](0).toSet
    val want = {
      val arr = graft.functions.NativeKernels.winnow(bytes(t), 8, 4)
      (0 until arr.numElements()).map(arr.getLong).toSet
    }
    assert(got == want && got.nonEmpty)
    // at least one fingerprint per w positions
    assert(got.size * 4 >= bytes(t).length - 8 + 1 - 3)
  }

  private def runFps(b: Array[Byte], minLen: Int): Seq[Long] = {
    val a = graft.functions.NativeKernels.runFingerprints(b, minLen)
    (0 until a.numElements()).map(a.getLong)
  }

  test("runFingerprints: column and CODEGEN_ONLY output match the kernel") {
    val t = "abcdefghij" * 12 + "the run fingerprints of a doc" * 3
    val row = Seq(t).toDF("t")
      .select(GraftFunctions.runFingerprints(encode(col("t"), "UTF-8"), 40).as("fp"),
        GraftFunctions.runFingerprints(lit(null).cast("binary"), 40).as("n"))
      .collect()(0)
    assert(row.getSeq[Long](0) == runFps(bytes(t), 40) && row.getSeq[Long](0).nonEmpty)
    assert(row.isNullAt(1))
    val prev = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val got = Seq(t).toDF("t")
        .select(GraftFunctions.runFingerprints(encode(col("t"), "UTF-8"), 40))
        .collect()(0).getSeq[Long](0)
      assert(got == runFps(bytes(t), 40))
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
        case None => spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
  }

  test("run fingerprints guarantee (property): shared and repeated minLen runs are caught") {
    import org.scalacheck.{Gen, Prop, Test}
    // a value held twice -- by two docs, or twice by one doc -- is what
    // marks a doc as a candidate
    def flagged(f: Seq[Long]) = f.distinct.size < f.size
    // random bytes over a 2-letter or the full byte alphabet
    val alphabet = Gen.oneOf(2, 256)
    def bytesOf(n: Int, a: Int): Gen[Array[Byte]] =
      Gen.listOfN(n, Gen.choose(0, a - 1).map(_.toByte)).map(_.toArray)
    def chunk(a: Int): Gen[Array[Byte]] = Gen.choose(0, 200).flatMap(bytesOf(_, a))
    val minLens = Gen.choose(33, 600)
    def check(name: String, p: Prop): Unit = {
      val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(200), p)
      assert(res.passed, s"$name: ${res.status}")
    }
    check("shared run", Prop.forAll(minLens, alphabet) { (minLen, a) =>
      Prop.forAll(bytesOf(minLen, a), chunk(a), chunk(a), chunk(a), chunk(a)) {
        (run, pa, sa, pb, sb) =>
          runFps(pa ++ run ++ sa, minLen).toSet
            .intersect(runFps(pb ++ run ++ sb, minLen).toSet).nonEmpty
      }
    })
    check("repeat inside one doc", Prop.forAll(minLens, alphabet) { (minLen, a) =>
      Prop.forAll(bytesOf(minLen, a), chunk(a), chunk(a), chunk(a)) { (run, p, mid, s) =>
        flagged(runFps(p ++ run ++ mid ++ run ++ s, minLen))
      }
    })
    // overlapping copies: a period-u text at least minLen + u long holds
    // the same minLen window at offsets 0 and u
    check("periodic text", Prop.forAll(minLens, alphabet) { (minLen, a) =>
      Prop.forAll(Gen.choose(1, minLen), chunk(a), chunk(a)) { (u, p, s) =>
        Prop.forAll(bytesOf(u, a)) { unit =>
          val periodic = Array.fill(minLen / u + 2)(unit).flatten
          flagged(runFps(p ++ periodic ++ s, minLen))
        }
      }
    })
    for (minLen <- Seq(33, 64, 500, 600))
      assert(flagged(runFps(bytes("a" * 700), minLen)), s"700 x a at minLen $minLen")
    check("short docs", Prop.forAll(minLens, alphabet) { (minLen, a) =>
      Prop.forAll(Gen.choose(0, minLen - 1).flatMap(bytesOf(_, a))) { b =>
        runFps(b, minLen).isEmpty
      }
    })
    assert(runFps(null, 500).isEmpty)
  }
}
