package graft.operators

import graft.functions.NativeKernels
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MetadataBuilder

/** Distributed bounded-depth suffix index (A8): the exact suffix order
  * to a build depth, and the remove-ranges at that depth.
  *
  * The reference builds its suffix array once (rust_indexing sidecar,
  * README.md:44-48) and answers `find_remove_ranges` at any `min_len`
  * from it. Here a sweep over several minLens runs the spine
  * (SubstringDedup.removeRanges) once per minLen instead: measured with
  * `BenchExtra minlen 2000 60` on 4 cores (BASELINE.md, best of 3
  * JVMs), the spine ran minLen 200/500/1000 over a 60-doc / 0.4 MB slice
  * in 4.8 s, while a maxDepth-1024 index took 6.3 s to build plus 4.1 s
  * to answer the three. One query saves about 0.24 s, so a build pays
  * off only after about 26 minLens; the reference's own workflows use
  * two (500, 200). The index also moves ~maxDepth x the corpus through
  * its exchange (about 13.5 GB at 13.2 MB of text), where the spine ran
  * all three minLens over those 13.2 MB in 17.0 s.
  *
  * The reference only ever compares `min_len`-byte prefixes
  * (cpp_engine_dedup.h:233), so a bounded-depth suffix order is a sort
  * on each position's end-truncated `maxDepth`-byte prefix: one scan
  * emits (k, pos, slen, pfx), ONE range sort runs on (pfx, k, pos), and
  * one adjacent pass assigns the dense global index, the rank (prefix
  * equality class) and the adjacent LCP. Spark orders `binary` unsigned
  * with a shorter value first, which is exactly end-truncated prefix
  * order (a suffix that ends sorts before every extension of it).
  * Ranks are exact byte equality -- no hashing anywhere -- so the index
  * and the query over it are collision-free by construction. Suffixes
  * never cross documents (the reference's doc-sep exclusion, C3/C4):
  * the prefix is cut at the doc's end. Only per-partition counts and
  * boundary prefixes reach the driver.
  */
object SuffixIndex {

  /** `maxDepth`: suffixes are ordered by their first `maxDepth` bytes,
    * and `removeRanges` answers at minLen == maxDepth.
    * `parts`: range-partition width of the build sort.
    */
  case class Config(maxDepth: Int = 128, parts: Int = 32)

  private val DepthKey = "graft.suffix_index.max_depth"

  /** The maxDepth `build` recorded on the index's `lcp` column, if any. */
  private[graft] def depthOf(index: DataFrame): Option[Int] = {
    val md = index.schema("lcp").metadata
    if (md.contains(DepthKey)) Some(md.getLong(DepthKey).toInt) else None
  }

  /** docs(k, text) -> index(gidx, k, pos, slen, rank, lcp):
    * one row per byte position, in bounded-depth suffix order (`gidx`
    * dense from 0, `rank` dense from 1, ties = suffixes equal through
    * maxDepth bytes), with `lcp` = longest common prefix with the
    * PREVIOUS row in that order, capped at maxDepth (null on the first
    * row). `slen` = bytes remaining in the suffix's document. The `lcp`
    * column's metadata records `cfg.maxDepth` (`depthOf`), the depth
    * `removeRanges` answers at. `docs` is scanned once.
    */
  def build(docs: DataFrame, cfg: Config): DataFrame = {
    require(cfg.maxDepth >= 1, s"maxDepth ${cfg.maxDepth} must be at least 1")
    val spark = docs.sparkSession
    import spark.implicits._
    val depth = cfg.maxDepth
    val base = docs.select(col("k").cast("long"), col("text"))
      .as[(Long, String)]
      .flatMap { case (k, t) =>
        if (t == null) Iterator.empty
        else {
          val b = t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          Iterator.range(0, b.length).map { p =>
            val pfx = java.util.Arrays.copyOfRange(b, p, math.min(b.length, p + depth))
            (k, p.toLong, (b.length - p).toLong, pfx, lead8(pfx))
          }
        }
      }
      .toDF("k", "pos", "slen", "pfx", "lead8")
      .localCheckpoint(true) // pin: the range exchange samples its child twice
    // Spark's generated comparator copies a binary value out of the row on
    // every comparison, and the range-partition lookup makes up to `parts`
    // comparisons per row; the leading long settles most of them without
    // that copy. It never contradicts pfx order, so the order is (pfx, k, pos).
    val parted = base
      .repartitionByRange(cfg.parts, col("lead8"), col("pfx"), col("k"), col("pos"))
      .sortWithinPartitions("lead8", "pfx", "k", "pos")
      .drop("lead8")
      .withColumn("_pid", spark_partition_id())
      .as[(Long, Long, Long, Array[Byte], Int)]
      .localCheckpoint(true)
    val stats = parted.mapPartitions { it =>
      if (!it.hasNext) Iterator.empty
      else {
        val first = it.next()
        var n = 1L
        var bounds = 1L
        var prev = first._4
        it.foreach { case (_, _, _, pfx, _) =>
          n += 1
          if (!java.util.Arrays.equals(pfx, prev)) { bounds += 1; prev = pfx }
        }
        Iterator.single((first._5, n, bounds, first._4, prev))
      }
    }.collect().sortBy(_._1)
    // seam per partition: dense row offset, count of rank ids assigned in
    // earlier partitions (the first class here CONTINUES the previous
    // partition's last class when the boundary prefixes are equal -- then
    // the adjacent pass's tie detection against prevLast reuses its id),
    // and the previous partition's closing prefix for the first row's lcp
    var rowAcc = 0L
    var rankAcc = 0L
    var prevLast: Array[Byte] = null
    val seam = stats.map { case (pid, n, bounds, first, last) =>
      val cont = prevLast != null && java.util.Arrays.equals(prevLast, first)
      val s = (pid, (rowAcc, rankAcc, prevLast))
      rowAcc += n
      rankAcc += bounds - (if (cont) 1L else 0L)
      prevLast = last
      s
    }.toMap
    val bcSeam = spark.sparkContext.broadcast(seam)
    val md = depth.toLong
    val index = parted.mapPartitions { it =>
      if (!it.hasNext) Iterator.empty
      else {
        val buf = it.buffered
        val (gBase, rBase, p0) = bcSeam.value(buf.head._5)
        var gidx = gBase - 1L
        var rank = rBase
        var prev = p0
        buf.map { case (k, pos, slen, pfx, _) =>
          gidx += 1
          val tie = prev != null && java.util.Arrays.equals(pfx, prev)
          if (!tie) rank += 1
          val lcp: java.lang.Long =
            if (prev == null) null
            else java.lang.Long.valueOf(if (tie) md else NativeKernels.lcp(pfx, prev))
          prev = pfx
          (gidx, k, pos, slen, rank, lcp)
        }
      }
    }.toDF("gidx", "k", "pos", "slen", "rank", "lcp")
    val meta = new MetadataBuilder().putLong(DepthKey, md).build()
    index.withColumn("lcp", col("lcp").as("lcp", meta))
  }

  /** The first 8 bytes of `pfx`, zero-padded, as a long whose signed
    * order is their unsigned order: a != b in this value orders a and b
    * as their binary order does, and a tie leaves them to `pfx`.
    */
  private def lead8(pfx: Array[Byte]): Long = {
    var h = 0L
    var j = 0
    while (j < 8) {
      h = (h << 8) | (if (j < pfx.length) pfx(j) & 0xffL else 0L)
      j += 1
    }
    h ^ Long.MinValue
  }

  /** Remove-ranges at the depth `build` recorded (`depthOf`) -- no
    * window exchange. At minLen == build depth a class of equal
    * minLen-byte prefixes is exactly a rank-tie run: stored lcp is the
    * depth on ties and strictly below it otherwise, and tie runs are
    * sorted by (k, pos) within the index order (pfx, k, pos), so the
    * FIRST member of every class is its min-(k, pos) keeper and every
    * continuing member is removable. "Removable" is then the per-row
    * predicate `slen >= d AND lcp >= d` feeding the range coalescer.
    * (Short suffixes never sit inside an eligible tie run: a depth-d tie
    * has equal prefix lengths, so a class is either all >= d long with
    * equal bytes or all identical short suffixes, and whole classes drop
    * at the slen filter.) Result is byte-identical to
    * SubstringDedup.removeRanges at minLen d (differential-tested).
    *
    * An index without a recorded depth throws an
    * IllegalArgumentException: the depth is the index's, not the caller's.
    */
  def removeRanges(index: DataFrame): DataFrame = {
    val d = depthOf(index).getOrElse(throw new IllegalArgumentException(
      "index has no recorded build depth on its lcp column; build it with SuffixIndex.build"))
    val removable = index
      .where(col("slen") >= d && col("lcp").isNotNull && col("lcp") >= d)
      .select("k", "pos")
    SubstringDedup.coalesceRanges(removable, d)
  }
}
