package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Hamming-radius self-join over 64-bit fingerprints (pHash / SimHash).
  *
  * Exact (recall 1.0) candidate generation by pigeonhole banding, in two
  * physical shapes:
  *
  *  - FLAT (`pairsFlat`, used for r <= 2): split the 64 bits into r+1
  *    blocks; any pair within distance r agrees exactly on >= 1 block, so
  *    a per-block equi-join finds every pair. Fine while blocks are wide
  *    (r=2 -> 21-bit blocks), but at r=4 the blocks are 12-13 bits ->
  *    <= 8192 distinct values per block, and at 1e9 fingerprints each
  *    bucket holds ~1e5 members whose self-join fans out ~1e10 candidates
  *    per block -- quadratic, and AQE skew-splitting only redistributes
  *    the blowup, it cannot shrink it.
  *
  *  - TWO-LEVEL (`pairsTwoLevel`, the default for r >= 3): split into
  *    floor(r/2)+1 WIDE blocks (r=4 -> 3 blocks of 21-22 bits). A pair
  *    within distance r has some wide block carrying <= 1 error
  *    (pigeonhole). Each case gets its own equi-join, and BOTH are further
  *    refined by a second pigeonhole over the block's complement bits:
  *      * error-free block: both sides join on the exact block value PLUS
  *        one of r+1 sub-blocks of the remaining 64-w bits (remaining
  *        distance <= r -> some sub-block exact);
  *      * one-bit-error block: the probe side enumerates the w one-bit
  *        variants of its block value (HmSearch-style query expansion,
  *        Zhang et al., SIGMOD'13) joined to exact values on the build
  *        side, refined by one of r sub-blocks (remaining <= r-1).
  *    Join keys therefore carry ~30+ bits (wide block + sub-block), so
  *    bucket populations stay ~N/2^30: at 1e9 uniform fingerprints the
  *    candidate volume is ~1e10 TOTAL (vs ~1e14 flat), and a hot 21-bit
  *    block value shared by 1e5 fingerprints is split 2^8-2^11 ways by the
  *    sub-block key instead of self-joining quadratically. The price is
  *    row inflation (~64r narrow rows per fingerprint on the variant
  *    side), which scales linearly and shuffles ~20 B/row -- the right
  *    trade at 1e9+ rows.
  *
  * Verification is a codegen'd bit_count on the joined row; no UDFs.
  * Reference context: pHash near-dup matching is the image-corpus
  * workhorse; the reference engine has no Hamming join (it outsources
  * image dedup), so this operator follows the published multi-index
  * pigeonhole literature instead.
  */
object Hamming {

  private case class Block(i: Int, start: Int, width: Int)

  /** Partition 64 bits into `n` blocks; first `64 % n` blocks get the
    * extra bit.
    */
  private def blockBounds(n: Int): Seq[Block] = {
    val w = 64 / n
    val extra = 64 % n
    (0 until n).map { i =>
      Block(i, i * w + math.min(i, extra), w + (if (i < extra) 1 else 0))
    }
  }

  private def maskOf(width: Int): Long =
    if (width >= 64) -1L else (1L << width) - 1L

  /** Value of block b extracted from `bits`. */
  private def blockVal(bits: Column, b: Block): Column =
    shiftrightunsigned(bits, b.start).bitwiseAND(lit(maskOf(b.width)))

  /** The 64-width complement bits of block b packed into one word:
    * bits below the block stay in place, bits above shift down into the
    * vacated range.
    */
  private def complementVal(bits: Column, b: Block): Column = {
    val lower =
      if (b.start == 0) lit(0L)
      else bits.bitwiseAND(lit(maskOf(b.start)))
    val upper =
      if (b.start + b.width == 64) lit(0L)
      else shiftleft(shiftrightunsigned(bits, b.start + b.width), b.start)
    lower.bitwiseOR(upper)
  }

  /** Sub-block values: the 64-width complement word partitioned into
    * `nsub` pieces (same fill rule as blockBounds).
    */
  private def subVals(bits: Column, b: Block, nsub: Int): Seq[Column] = {
    val comp = complementVal(bits, b)
    val total = 64 - b.width
    val w = total / nsub
    val extra = total % nsub
    (0 until nsub).map { j =>
      val start = j * w + math.min(j, extra)
      val width = w + (if (j < extra) 1 else 0)
      shiftrightunsigned(comp, start).bitwiseAND(lit(maskOf(width)))
    }
  }

  /** df(id: Long, bits: Long) -> (block, block_bits, id): r+1 rows per id.
    * Block i covers bit range [i*w + min(i,extra), ...) where the first
    * `extra` blocks get an extra bit (64 = blocks*w + extra).
    */
  private def blockTable(df: DataFrame, blocks: Int): DataFrame = {
    val blockCols = blockBounds(blocks).map { b =>
      struct(lit(b.i).as("block"), blockVal(col("bits"), b).as("block_bits"))
    }
    df.select(col("id"), col("bits"), explode(array(blockCols: _*)).as("bb"))
      .select(col("bb.block"), col("bb.block_bits"), col("id"), col("bits"))
  }

  /** All pairs (a < b) with hamming(bits_a, bits_b) <= r. Output:
    * (a, b, dist).
    *
    * Plan choice is MEASURED, not guessed (both plans are exact, so this
    * is purely physical): r <= 2 always takes the flat scheme (blocks
    * already >= 21 bits wide). For r >= 3 the flat scheme is ~6x cheaper
    * at small corpora (round-4 A/B at 168k fingerprints: 2.1 s flat vs
    * 12.6 s two-level -- the variant expansion pays ~64r rows/fp
    * regardless of n) but goes quadratic once buckets fill, so:
    * above the uniform-density cutoff (expected flat candidates > ~512
    * per row) go two-level outright; below it, the WORST flat bucket
    * decides -- a hot shared block value (flat phash regions) forces
    * two-level even at small n. One probe job, a narrow-column histogram
    * trivial next to the join it steers, yields both. A caller's `nHint`
    * above the cutoff skips the probe; below it, the probe still runs.
    */
  def pairs(df: DataFrame, r: Int, nHint: Long = -1L): DataFrame = {
    if (r <= 2) return pairsFlat(df, r)
    val minW = 64 / (r + 1)
    val cutoff = 512L * (1L << minW) / (r + 1)
    // caller-supplied row count above the cutoff skips the probe (and the
    // pin below)
    if (nHint > cutoff) return pairsTwoLevel(df, r)
    // pin the narrow (id, bits) projection ONCE: without it the probe
    // and the steered join each re-evaluate the upstream plan -- 2x for
    // an expensive input (e.g. freshly decoded phashes)
    val base = df.select(col("id"), col("bits")).localCheckpoint(true)
    // the bucket histogram's sum of counts is (r+1) * n and its max is
    // the worst flat bucket
    val row = blockTable(base, r + 1)
      .groupBy("block", "block_bits").agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(col("c")), lit(0L)), coalesce(max(col("c")), lit(0L)))
      .collect()(0)
    val (n, maxBucket) = (row.getLong(0) / (r + 1), row.getLong(1))
    if (n > cutoff || maxBucket > 4096) pairsTwoLevel(base, r)
    else pairsFlat(base, r)
  }

  /** Flat r+1-block scheme (see scaladoc); exact, narrow-block. */
  private[graft] def pairsFlat(df: DataFrame, r: Int): DataFrame = {
    val blocks = r + 1
    val bt = blockTable(df, blocks)
    bt.select(col("block"), col("block_bits"), col("id").as("a"), col("bits").as("ba"))
      .join(
        bt.select(col("block"), col("block_bits"), col("id").as("b"), col("bits").as("bb")),
        Seq("block", "block_bits"))
      .where(col("a") < col("b"))
      .withColumn("dist", bit_count(col("ba").bitwiseXOR(col("bb"))))
      .where(col("dist") <= r)
      .select("a", "b", "dist")
      .distinct()
  }

  /** Two-level scheme: wide blocks + 1-bit variant expansion + sub-block
    * refinement (see scaladoc). Exact for any r >= 1; intended for r >= 3.
    */
  def pairsTwoLevel(df: DataFrame, r: Int): DataFrame = {
    require(r >= 1 && r <= 16, s"radius $r outside [1, 16]")
    val bs = blockBounds(r / 2 + 1)
    val base = df.select(col("id"), col("bits"))

    // exact-value side rows (blk, bv, sj, sub, id, bits), nsub per block
    def exactSide(nsub: Int): DataFrame =
      bs.map { b =>
        base
          .select(col("id"), col("bits"), lit(b.i).as("blk"),
            blockVal(col("bits"), b).as("bv"),
            posexplode(array(subVals(col("bits"), b, nsub): _*)))
          .withColumnRenamed("pos", "sj").withColumnRenamed("col", "sub")
      }.reduce(_ unionAll _)

    // strict 1-bit variants of each block value, refined by r sub-blocks
    val variantSide =
      bs.map { b =>
        base
          .select(col("id"), col("bits"),
            blockVal(col("bits"), b).as("v0"),
            posexplode(array(subVals(col("bits"), b, r): _*)))
          .withColumnRenamed("pos", "sj").withColumnRenamed("col", "sub")
          .select(col("id"), col("bits"), lit(b.i).as("blk"),
            explode(array((0 until b.width).map(t =>
              col("v0").bitwiseXOR(lit(1L << t))): _*)).as("bv"),
            col("sj"), col("sub"))
      }.reduce(_ unionAll _)

    val keys = Seq("blk", "bv", "sj", "sub")
    def sided(t: DataFrame, side: String): DataFrame =
      t.select(col("blk"), col("bv"), col("sj"), col("sub"),
        col("id").as(s"id$side"), col("bits").as(s"bits$side"))

    // case e_blk == 1: variant probe x exact build
    val candA = sided(variantSide, "x").join(sided(exactSide(r), "y"), keys)
    // case e_blk == 0: exact self-join, ordered to halve the output
    val eb = exactSide(r + 1)
    val candB = sided(eb, "x").join(sided(eb, "y"), keys)
      .where(col("idx") < col("idy"))

    candA.select(col("idx"), col("idy"), col("bitsx"), col("bitsy"))
      .unionAll(candB.select(col("idx"), col("idy"), col("bitsx"), col("bitsy")))
      .where(col("idx") =!= col("idy"))
      .select(
        least(col("idx"), col("idy")).as("a"),
        greatest(col("idx"), col("idy")).as("b"),
        bit_count(col("bitsx").bitwiseXOR(col("bitsy"))).as("dist"))
      .where(col("dist") <= r)
      .distinct()
  }
}
