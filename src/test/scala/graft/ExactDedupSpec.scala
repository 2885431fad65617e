package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.ExactDedup

class ExactDedupSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("binary payloads differing only in invalid-UTF-8 bytes are NOT merged") {
    // 0x80 and 0x81 are lone continuation bytes: a binary->string cast maps
    // BOTH to U+FFFD, so digesting the cast value would silently merge
    // distinct payloads (data loss). sha2 over the raw bytes must keep them
    // apart while still grouping the true duplicate pair.
    val rows = Seq(
      (0L, Array[Byte](0x80.toByte, 0x41)),
      (1L, Array[Byte](0x81.toByte, 0x41)),
      (2L, Array[Byte](0x80.toByte, 0x41))
    ).toDF("k", "bytes")
    val flags = ExactDedup.flag(rows, "bytes")
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(flags.toSeq == Seq((0L, 0L, false), (1L, 1L, false), (2L, 0L, true)))
  }

  test("string dedup still groups by exact text and keeps first occurrence") {
    val rows = Seq((3L, "xx"), (1L, "aa"), (2L, "aa"), (4L, "xx")).toDF("k", "text")
    val flags = ExactDedup.flag(rows, "text")
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(flags.toSeq ==
      Seq((1L, 1L, false), (2L, 1L, true), (3L, 3L, false), (4L, 3L, true)))
    // (keeper, n_copies) per group, and the kept first occurrences
    assert(flags.groupBy(_._2).map { case (kp, fs) => (kp, fs.length) }.toSet ==
      Set((1L, 2), (3L, 2)))
    assert(flags.filterNot(_._3).map(_._1).toSet == Set(1L, 3L))
  }

  test("NULL content: one row per doc, NULLs form one group, same as SQL") {
    val rows = Seq[(Long, String)]((5L, null), (2L, null), (3L, "a")).toDF("k", "text")
    val got = ExactDedup.flag(rows, "text")
      .as[(Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    rows.createOrReplaceTempView("exact_null_docs")
    // e1's oracle semantics: PARTITION BY puts every NULL in one partition
    val sql = spark.sql(
      """SELECT k, min(k) OVER (PARTITION BY text) AS keeper,
        |       k <> min(k) OVER (PARTITION BY text) AS is_dup
        |FROM exact_null_docs""".stripMargin)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(got == sql)
    assert(got == Seq((2L, 2L, false), (3L, 3L, false), (5L, 2L, true)))
  }

  test("non-string non-binary content dedups through canonical string form") {
    val rows = Seq((1L, 42), (2L, 42), (3L, 7)).toDF("k", "v")
    val flags = ExactDedup.flag(rows, "v")
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(flags.toSeq == Seq((1L, 1L, false), (2L, 1L, true), (3L, 3L, false)))
  }
}
