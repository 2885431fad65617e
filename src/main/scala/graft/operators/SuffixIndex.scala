package graft.operators

import graft.functions.NativeKernels
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MetadataBuilder

/** Distributed bounded-depth suffix index -- the build-once /
  * query-many-minLens fidelity stage.
  *
  * The reference builds its suffix array ONCE (rust_indexing sidecar,
  * README.md:44-48) and then answers `find_remove_ranges` at any
  * `min_len` without re-indexing (workflow_v1.sh minlen=500 vs
  * workflow_pileval.sh minlen=200 reuse the same index). Our default
  * per-minLen sort-scan (SubstringDedup.removeRanges*) re-pays the full
  * window exchange per minLen; this operator closes that gap: one build
  * to `maxDepth`, then any `minLen <= maxDepth` remove-ranges query is a
  * narrow scan over the prebuilt (order, lcp) table.
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
  * and every query over it are collision-free by construction. Suffixes
  * never cross documents (the reference's doc-sep exclusion, C3/C4):
  * the prefix is cut at the doc's end.
  *
  * Scale shape: the one exchange carries up to `maxDepth` prefix bytes
  * per byte position, so the build moves ~maxDepth x the corpus; only
  * per-partition counts and boundary prefixes reach the driver. That
  * cost is why the per-minLen sort-scan stays the default for one-shot
  * dedup (measured in BASELINE.md).
  */
object SuffixIndex {

  /** `maxDepth`: suffixes are ordered by their first `maxDepth` bytes;
    * any `minLen <= maxDepth` is answerable. This is the same
    * bounded-depth contract as the default path hoisted to the index
    * level: one build covers the reference's whole production minlen
    * range (200..1000 -> maxDepth 1024) instead of one minLen.
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
    * column's metadata records `cfg.maxDepth` (`depthOf`), which
    * `removeRanges` checks `minLen` against. `docs` is scanned once.
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

  /** Remove-ranges at any `minLen` in 1..maxDepth from a prebuilt index
    * -- no window exchange: eligible suffixes (slen >= minLen) in index
    * order segment into equal-minLen-prefix classes wherever the stored
    * adjacent lcp stays >= minLen; every class member except the
    * first-occurrence (min (k, pos)) keeper is removable. Result is
    * byte-identical to SubstringDedup.removeRanges at the same minLen
    * (differential-tested).
    *
    * Stored lcp is with the ORIGINAL previous row, which may be an
    * ineligible short suffix -- still correct: any suffix lying between
    * two class members in suffix order shares their class prefix
    * (betweenness), so it is at least minLen long and thus eligible;
    * boundaries flagged through a filtered-out short row are real
    * boundaries.
    *
    * A `minLen` outside 1..(the depth `build` recorded) throws an
    * IllegalArgumentException naming both: lcp is capped at the build
    * depth, so a deeper query would silently find no duplicates.
    */
  def removeRanges(index: DataFrame, minLen: Int): DataFrame = {
    val depth = depthOf(index)
    if (minLen < 1)
      throw new IllegalArgumentException(s"minLen $minLen must be at least 1")
    for (d <- depth if minLen > d) throw new IllegalArgumentException(
      s"minLen $minLen exceeds the index's recorded build depth $d")
    // minLen == build depth: a segment is then exactly a rank-tie run --
    // stored lcp is maxDepth on ties and strictly below it otherwise --
    // and tie runs are sorted by (k, pos) within the index order
    // (pfx, k, pos), so the FIRST member of every class is its
    // min-(k,pos) keeper and every CONTINUING member is removable.
    // "Removable" collapses to the per-row predicate `slen >= minLen AND
    // lcp >= minLen`: no layout probe, no segment seam, no keeper
    // aggregation or join -- one filter feeding the range coalescer.
    // (Short suffixes can never sit inside an eligible tie run: a
    // depth-maxDepth tie has equal prefix lengths, so a class is either
    // all >= maxDepth long with equal bytes or all identical short
    // suffixes -- whole classes drop at the slen filter, never individual
    // interior rows. A row whose stored lcp >= minLen also proves its
    // ORIGINAL predecessor shares minLen bytes and is therefore eligible
    // and in the same class.)
    if (depth.contains(minLen)) {
      val removable = index
        .where(col("slen") >= minLen && col("lcp").isNotNull && col("lcp") >= minLen)
        .select("k", "pos")
      return SubstringDedup.coalesceRanges(removable, minLen)
    }
    val spark = index.sparkSession
    import spark.implicits._
    // A freshly built (or checkpointed) index is already laid out in
    // gidx order -- the build's final sort IS that order, and
    // mapPartitions preserves it -- so the segment scan runs on the
    // existing partitions with NO exchange. One stats pass both
    // VALIDATES the layout (gidx ascending within partitions and across
    // partition ids) and collects the per-partition seams: eligible-row
    // counts, first/last break flags, and the flagged-break sums that
    // give each partition its global segment-id base. An index in any
    // other layout (e.g. re-read from unsorted storage) is range-sorted
    // by gidx and pinned, so the stats pass and the scan below see the
    // same partitions.
    def probe(df: DataFrame) = df.select(col("gidx"), col("k"), col("pos"),
        col("slen"), col("lcp"))
      .withColumn("_pid", spark_partition_id())
      .as[(Long, Long, Long, Long, java.lang.Long, Int)]
    def layoutStats(df: DataFrame) = {
      val stats = probe(df).mapPartitions { it =>
        if (!it.hasNext) Iterator.empty
        else {
          var pid = -1
          var asc = true
          var prevG = Long.MinValue
          var minG = Long.MaxValue
          var maxG = Long.MinValue
          var nElig = 0L
          var firstBrk = -1L
          var lastBrk = -1L
          var flaggedSum = 0L   // sum of brk over flagged rows, last row pending
          var prevEligBrk = -1L
          it.foreach { case (g, _, _, slen, lcp, p) =>
            pid = p
            if (g <= prevG) asc = false
            prevG = g
            if (g < minG) minG = g
            if (g > maxG) maxG = g
            if (slen >= minLen) {
              val brk = if (lcp == null || lcp.longValue() < minLen) 1L else 0L
              nElig += 1
              if (firstBrk < 0) firstBrk = brk
              if (prevEligBrk >= 0 && (prevEligBrk == 0L || brk == 0L))
                flaggedSum += prevEligBrk
              prevEligBrk = brk
              lastBrk = brk
            }
          }
          Iterator.single((pid, asc, minG, maxG, nElig, firstBrk, lastBrk, flaggedSum))
        }
      }.collect().sortBy(_._1)
      val aligned = stats.forall(_._2) &&
        stats.iterator.sliding(2).withPartial(false)
          .forall(w => w(0)._4 < w(1)._3)
      (aligned, stats)
    }
    val (laidOut, stats) = layoutStats(index) match {
      case (true, s) => (index, s)
      case _ =>
        val parts = spark.conf
          .getOption("spark.sql.shuffle.partitions").map(_.toInt).getOrElse(32)
        val sorted = index.repartitionByRange(parts, col("gidx"))
          .sortWithinPartitions("gidx")
          .localCheckpoint(true)
        val (aligned, s) = layoutStats(sorted)
        require(aligned, "index gidx values are not unique")
        (sorted, s)
    }
    // resolve each partition's LAST eligible row (flagged iff it
    // continues, or the next partition's first eligible row continues
    // it) and accumulate the global segment-id bases
    val eligPids = stats.filter(_._5 > 0)
    val nextFirstBrk: Map[Int, Long] =
      eligPids.zip(eligPids.drop(1).map(_._6) :+ 1L)
        .map { case (s, nb) => (s._1, nb) }.toMap
    var segAcc = 0L
    val seam: Map[Int, (Long, Long)] = eligPids.map { s =>
      val (pid, _, _, _, _, _, lastBrk, flaggedSum) = s
      val tailBrk = nextFirstBrk(pid)
      val lastFlagged = lastBrk == 0L || tailBrk == 0L
      val total = flaggedSum + (if (lastFlagged) lastBrk else 0L)
      val e = (pid, (segAcc, tailBrk))
      segAcc += total
      e
    }.toMap
    val bcSeam = spark.sparkContext.broadcast(seam)
    val seg = probe(laidOut).mapPartitions { it =>
      val elig = it.filter(_._4 >= minLen).map { case (_, k, pos, _, lcp, p) =>
        (k, pos, if (lcp == null || lcp.longValue() < minLen) 1L else 0L, p)
      }.buffered
      if (!elig.hasNext) Iterator.empty
      else {
        val (segBase, tailBrk) = bcSeam.value(elig.head._4)
        var segId = segBase
        new Iterator[(Long, Long, Long, Long)] {
          def hasNext: Boolean = elig.hasNext
          def next(): (Long, Long, Long, Long) = {
            val (k, pos, brk, _) = elig.next()
            val nb = if (elig.hasNext) elig.head._3 else tailBrk
            if (brk == 0L || nb == 0L) { segId += brk; (k, pos, segId, 1L) }
            else (k, pos, 0L, 0L)
          }
        }.filter(_._4 == 1L).map(r => (r._1, r._2, r._3))
      }
    }.toDF("k", "pos", "seg")
    val keep = seg.groupBy("seg")
      .agg(min(struct(col("k"), col("pos"))).as("kp"))
    val removable = seg.join(keep, "seg")
      .where(col("k") =!= col("kp.k") || col("pos") =!= col("kp.pos"))
      .select("k", "pos")
    SubstringDedup.coalesceRanges(removable, minLen)
  }
}
