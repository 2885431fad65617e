package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StringType}

/** Exact duplicate-document detection: keep the first occurrence (minimum
  * order key) of every distinct content value, flag the rest.
  *
  * The scalable shape: group on a 256-bit content digest (sha2) rather than
  * the content itself, so the shuffle carries 32 bytes per row instead of
  * the full payload; the per-group min is a partial-aggregating hash
  * aggregate (map-side combine). Mirrors the reference's first-occurrence
  * keep rule (cpp_engine_dedup.h:239-246) at document granularity.
  */
object ExactDedup {

  /** Digest expression that never mangles bytes: sha2 takes binary
    * directly (a cast binary->string replaces invalid UTF-8 sequences, so
    * distinct payloads could collide into one digest group and be merged
    * as "exact" duplicates); strings hash their exact UTF-8 encoding; any
    * other type goes through its canonical string form.
    */
  private def digest(docs: DataFrame, contentCol: String): Column =
    docs.schema(contentCol).dataType match {
      case BinaryType => sha2(col(contentCol), 256)
      case StringType => sha2(encode(col(contentCol), "UTF-8"), 256)
      case _          => sha2(encode(col(contentCol).cast("string"), "UTF-8"), 256)
    }

  /** docs(k: Long, <contentCol>) -> (k, keeper, is_dup): one row per doc,
    * keeper = min k among docs with identical content. NULL content is
    * one more content value: the join is null-safe (`<=>`), so every
    * NULL-content doc gets its row, grouped with the other NULLs -- the
    * same answer as SQL's `min(k) OVER (PARTITION BY content)`.
    */
  def flag(docs: DataFrame, contentCol: String): DataFrame = {
    val keyed = docs.select(
      col("k").cast("long"),
      digest(docs, contentCol).as("digest"))
    val keepers = keyed.groupBy("digest").agg(min(col("k")).as("keeper"))
      .withColumnRenamed("digest", "kdigest")
    keyed
      .join(keepers, col("digest") <=> col("kdigest"))
      .select(col("k"), col("keeper"), (col("k") =!= col("keeper")).as("is_dup"))
  }
}
