package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** One [s, e) byte range. Top-level and public: Janino-generated code
  * calls the accessors (`ByteRange.s()`) from the UDF's result encoder; a
  * private nested case class makes that call uncompilable and silently
  * drops every annotate/clip query to interpreted execution.
  */
case class ByteRange(s: Long, e: Long)

/** UTF-8 boundary clipping + kept-range complement + text reassembly.
  *
  * Mirrors the reference writeback semantics exactly
  * (write_back_to_jsonl_sharded.py:75-101):
  *   - clip: advance `s` while bytes(s) is a continuation byte (0x80..0xBF);
  *     retract `e` likewise UNLESS e == len (doc end is always a boundary);
  *     clipping only shrinks, ranges stay disjoint; empty ranges are kept.
  *   - keep ranges = complement of remove ranges within [0, len).
  *   - remove mode = concat kept slices, decode UTF-8.
  */
object Utf8 {
  @inline private def isCont(b: Byte): Boolean = (b & 0xc0) == 0x80

  /** Clip one [s,e) byte range inward to UTF-8 char boundaries. */
  def clipRange(bytes: Array[Byte], s0: Long, e0: Long): (Long, Long) = {
    val len = bytes.length
    var s = s0.toInt
    var e = e0.toInt
    while (s < len && isCont(bytes(s))) s += 1
    if (e != len) {
      while (e >= 0 && isCont(bytes(e))) e -= 1
    }
    require(s <= e, s"utf8 clip produced s=$s > e=$e (range [$s0,$e0), len=$len)")
    (s.toLong, e.toLong)
  }

  def clipRanges(bytes: Array[Byte], ranges: Seq[(Long, Long)]): Seq[(Long, Long)] =
    ranges.map { case (s, e) => clipRange(bytes, s, e) }

  /** Complement of (sorted, disjoint) remove ranges within [0, len):
    * zip((0,0)::removes, removes:::(len,len)) -> (r0.e, r1.s).
    * Mirrors write_back_to_jsonl_sharded.py:88 -- includes the (possibly
    * empty) leading and trailing keep ranges.
    */
  def keepRanges(len: Long, removes: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val left = (0L, 0L) +: removes
    val right = removes :+ (len, len)
    left.zip(right).map { case (r0, r1) => (r0._2, r1._1) }
  }

  /** Remove-mode reassembly: concat kept slices, decode UTF-8. */
  def removeRanges(bytes: Array[Byte], removes: Seq[(Long, Long)]): String = {
    val keeps = keepRanges(bytes.length.toLong, removes)
    val out = new java.io.ByteArrayOutputStream()
    keeps.foreach { case (s, e) => out.write(bytes, s.toInt, (e - s).toInt) }
    new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
  }

  // ---- Column-level wrappers (schema: array<struct<s:long,e:long>>) ----

  /** clip_ranges(textBytes, ranges) -> ranges clipped to char boundaries. */
  private val clipRangesUdf = udf { (bytes: Array[Byte], ranges: Seq[org.apache.spark.sql.Row]) =>
    ranges.map { r =>
      val (s, e) = clipRange(bytes, r.getLong(0), r.getLong(1))
      ByteRange(s, e)
    }
  }

  /** remove_mode(textBytes, clippedRanges) -> deduped text (null in ->
    * null out, matching SQL null propagation).
    */
  private val removeModeUdf = udf { (bytes: Array[Byte], ranges: Seq[org.apache.spark.sql.Row]) =>
    if (bytes == null) null
    else removeRanges(bytes, ranges.map(r => (r.getLong(0), r.getLong(1))))
  }

  def clip(bytes: Column, ranges: Column): Column = clipRangesUdf(bytes, ranges)
  def removeMode(bytes: Column, ranges: Column): Column = removeModeUdf(bytes, ranges)
}
