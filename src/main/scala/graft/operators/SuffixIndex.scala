package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MetadataBuilder

/** Distributed bounded-depth suffix index via prefix doubling -- the
  * build-once / query-many-minLens fidelity stage.
  *
  * The reference builds its suffix array ONCE (rust_indexing sidecar,
  * README.md:44-48) and then answers `find_remove_ranges` at any
  * `min_len` without re-indexing (workflow_v1.sh minlen=500 vs
  * workflow_pileval.sh minlen=200 reuse the same index). Our default
  * per-minLen sort-scan (SubstringDedup.removeRanges*) re-pays the full
  * window exchange per minLen; this operator closes that gap: one
  * prefix-doubling build to `maxDepth`, then any `minLen <= maxDepth`
  * remove-ranges query is a narrow scan over the prebuilt
  * (order, lcp) table.
  *
  * Construction is the textbook prefix-doubling recurrence (Manber-Myers)
  * expressed as Spark ops. Each round costs exactly TWO exchanges:
  * a per-doc window (`lead(rank, 2^i)` -- positions are dense per doc,
  * so the rank at `pos + 2^i` is the rank 2^i ROWS ahead) and one
  * range-repartition sort inside which the dense re-rank is computed as
  * a running count of class boundaries (per-partition boundary counts +
  * first/last keys -- P small tuples -- go to the driver for the
  * cross-partition offsets; no third shuffle, no per-class window).
  * Ranks are EXACT equality classes of 2^i-byte prefixes (no hashing
  * anywhere), so the index -- and every query over it -- is
  * collision-free by construction. Suffixes never cross documents (the
  * reference's doc-sep exclusion, C3/C4): beyond-end compares as a
  * sentinel that sorts before every real byte, per-doc.
  *
  * The build stops at the Manber-Myers FIXED POINT: when a doubling
  * round does not increase the number of classes, the new partition is a
  * refinement of the old with the same class count, hence identical --
  * and then equality at depth 2^i implies equality at every greater
  * depth (E_{2s}=E_s gives E_{4s}(p,q) = p E_s q AND (p+2s) E_s (q+2s),
  * both implied), so the remaining rounds are no-ops and rank ties are
  * "equal through maxDepth" already. The class count falls out of the
  * re-rank pass for free, so corpora whose longest repeat is far below
  * `maxDepth` pay only the rounds they need.
  *
  * Scale shape: each round moves one narrow (k, pos, slen, rank, r2) row
  * per byte position through the two exchanges -- the same O(N) spine as
  * the sort-scan path, at most log2(maxDepth) times. Only per-partition
  * counts and boundary keys ever reach the driver, never data. That
  * N-log(depth) build cost is why the per-minLen sort-scan stays the
  * default for one-shot dedup; the index pays off when many minLens are
  * queried (measured in BASELINE.md).
  */
object SuffixIndex {

  /** `maxDepth`: suffixes are ordered by their first `maxDepth` bytes
    * (power of two); any `minLen <= maxDepth` is answerable. This is the
    * same bounded-depth contract as the default path (the reference only
    * ever compares `min_len` prefixes, cpp_engine_dedup.h:233) hoisted to
    * the index level: one build covers the reference's whole production
    * minlen range (200..1000 -> maxDepth 1024) instead of one minLen.
    * `parts`: range-partition width for the global sorts.
    * `lcpViaBytes`: how adjacent-suffix LCPs are computed.
    *   - Some(true) / default for maxDepth <= 512: ONE equi-join against
    *     a per-position prefix table (<= maxDepth bytes per row, sliced
    *     straight from the docs scan) + the adjacency join; ~2 exchanges
    *     shipping ~maxDepth B/row.
    *   - Some(false) / default above 512: the classic doubling walk over
    *     the retained level tables -- 2 narrow equi-joins per level,
    *     ~2·log2(maxDepth) exchanges shipping ~32 B/row. The crossover
    *     is where maxDepth bytes/row exceeds the walk's total narrow
    *     traffic (~64·log2(maxDepth) B/row).
    */
  case class Config(maxDepth: Int = 128, parts: Int = 32,
                    lcpViaBytes: Option[Boolean] = None)

  /** Running total of `value` over the global `orderCols` order WITHOUT a
    * single-partition window: range-repartition + in-partition window,
    * with cross-partition offsets from a per-partition count aggregation
    * (P longs to the driver, broadcast back). Ties in `orderCols` all
    * receive the tie-group's closing total (RANGE frame) -- callers
    * either have unique keys or only need order-isomorphic values.
    */
  private def withRunningTotal(df: DataFrame, orderCols: Seq[String],
                               value: Column, name: String,
                               parts: Int): DataFrame = {
    val oc = orderCols.map(col)
    val parted = df.withColumn("_v", value)
      .repartitionByRange(parts, oc: _*)
      .sortWithinPartitions(oc: _*)
      .withColumn("_pid", spark_partition_id())
      .localCheckpoint(true) // pin: _pid must agree across the two jobs below
    val perPart = parted.groupBy("_pid").agg(sum("_v").as("_s"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val offsets = perPart.map { case (pid, s) => val o = (pid, acc); acc += s; o }
    val spark = df.sparkSession
    import spark.implicits._
    val offDf = broadcast(offsets.toSeq.toDF("_pid", "_off"))
    val w = Window.partitionBy("_pid").orderBy(oc: _*)
    parted.join(offDf, "_pid")
      .withColumn(name, col("_off") + sum(col("_v")).over(w))
      .drop("_pid", "_v", "_off")
  }

  /** Dense global row index (0-based) over `orderCols` order. */
  private def withGlobalIndex(df: DataFrame, orderCols: Seq[String],
                              name: String, parts: Int): DataFrame =
    withRunningTotal(df, orderCols, lit(1L), name, parts)
      .withColumn(name, col(name) - 1L)

  /** (k, pos, slen, rank, r2) -> ((k, pos, slen, rank'), nClasses):
    * rank' is the dense 1-based id of the row's (rank, r2) class in
    * (rank, r2) order -- the doubling re-rank -- computed inside ONE
    * range-repartition sort. Boundary flags are a sorted-run scan per
    * partition; the only driver traffic is one (firstKey, lastKey,
    * boundaryCount) tuple per partition, from which the cross-partition
    * class offsets (and the total class count, used for the fixed-point
    * stop) follow. Row count and partition iteration order are pinned by
    * the eager localCheckpoint, exactly like withRunningTotal.
    */
  private def classRanks(df: DataFrame, parts: Int): (DataFrame, Long) = {
    val spark = df.sparkSession
    import spark.implicits._
    val parted = df
      .repartitionByRange(parts, col("rank"), col("r2"))
      .sortWithinPartitions("rank", "r2")
      .withColumn("_pid", spark_partition_id())
      .select("k", "pos", "slen", "rank", "r2", "_pid")
      .as[(Long, Long, Long, Long, Long, Int)]
      .localCheckpoint(true)
    val stats = parted.mapPartitions { it =>
      if (!it.hasNext) Iterator.empty
      else {
        val (_, _, _, r0, r20, pid) = it.next()
        var bounds = 1L
        var pr = r0; var pr2 = r20
        it.foreach { case (_, _, _, r, r2, _) =>
          if (r != pr || r2 != pr2) { bounds += 1; pr = r; pr2 = r2 }
        }
        Iterator.single((pid, r0, r20, pr, pr2, bounds))
      }
    }.collect().sortBy(_._1)
    // class-id base per partition: classes closed in earlier partitions,
    // minus one when this partition's first class continues the previous
    // non-empty partition's last class (range partitioning can split a
    // class across a partition boundary)
    var acc = 0L
    var prevLast: (Long, Long) = null
    val bases = stats.map { case (pid, fr, fr2, lr, lr2, bounds) =>
      val cont = prevLast != null && prevLast == ((fr, fr2))
      val base = if (cont) acc - 1L else acc
      acc = base + bounds
      prevLast = (lr, lr2)
      (pid, base)
    }.toMap
    val bcBases = spark.sparkContext.broadcast(bases)
    val ranked = parted.mapPartitions { it =>
      if (!it.hasNext) Iterator.empty
      else {
        val buf = it.buffered
        val base = bcBases.value(buf.head._6)
        var local = 0L
        var pr = Long.MinValue; var pr2 = Long.MinValue; var first = true
        buf.map { case (k, pos, slen, r, r2, _) =>
          if (first || r != pr || r2 != pr2) { local += 1; pr = r; pr2 = r2; first = false }
          (k, pos, slen, base + local)
        }
      }
    }.toDF("k", "pos", "slen", "rank")
    (ranked, acc)
  }

  /** docs(k, text) -> index(gidx, k, pos, slen, rank, lcp):
    * one row per byte position, in bounded-depth suffix order (`gidx`
    * dense, `rank` ties = suffixes equal through maxDepth bytes), with
    * `lcp` = longest common prefix with the PREVIOUS row in that order,
    * capped at maxDepth (null on the first row). `slen` = bytes remaining
    * in the suffix's document. The `lcp` column's metadata records
    * `cfg.maxDepth` (`depthOf`), which `removeRanges` checks a declared
    * `indexDepth` against.
    */
  def build(docs: DataFrame, cfg: Config): DataFrame = {
    val depth = new MetadataBuilder().putLong(DepthKey, cfg.maxDepth.toLong).build()
    buildIndex(docs, cfg).withColumn("lcp", col("lcp").as("lcp", depth))
  }

  private val DepthKey = "graft.suffix_index.max_depth"

  /** The maxDepth `build` recorded on the index's `lcp` column, if any. */
  private[graft] def depthOf(index: DataFrame): Option[Int] = {
    val md = index.schema("lcp").metadata
    if (md.contains(DepthKey)) Some(md.getLong(DepthKey).toInt) else None
  }

  private def buildIndex(docs: DataFrame, cfg: Config): DataFrame = {
    // CONTRACT: `docs` must be DETERMINISTIC across re-evaluation -- the
    // direct-LCP mode scans it twice (initial ranks + the per-position
    // prefix table) and joins the results; a sampled/generated/mutable
    // source can silently drop positions from that inner join or
    // mismatch prefixes against ranks. Checkpoint such sources first.
    // (All engine callers pass parquet scans or pinned frames.)
    require(cfg.maxDepth >= 2 && (cfg.maxDepth & (cfg.maxDepth - 1)) == 0,
      s"maxDepth ${cfg.maxDepth} must be a power of two")
    val direct = cfg.lcpViaBytes.getOrElse(cfg.maxDepth <= 512)
    // Direct mode with maxDepth <= 32: the whole maxDepth-byte prefix
    // fits in <= 8 packed 36-bit keys, so no doubling rounds are needed
    // at all -- one scan, ONE range sort, one adjacent pass (see
    // buildFused). This covers the reference's bounded-depth production
    // window (and the driver's maxDepth=32 index) with ~1/4 the Spark
    // jobs of the doubling ladder.
    if (direct && cfg.maxDepth / math.min(4, cfg.maxDepth) <= 8)
      return buildFused(docs, cfg, math.min(4, cfg.maxDepth))
    val spark = docs.sparkSession
    import spark.implicits._

    // Initial ranks. Direct mode packs the first FOUR bytes into one
    // 36-bit big-endian value of 9-bit digits (byte+1; 0 = the beyond-end
    // sentinel, so a shorter suffix sorts before every extension of it) --
    // order-isomorphic to end-truncated 4-byte prefix order, which starts
    // the doubling at depth 4 and saves two full rounds for every
    // maxDepth. Walk mode keeps the single-byte level-0 table: its LCP
    // walk needs byte-granularity level tables.
    //
    // The FIRST doubling round's r2 is also packed straight from the
    // bytes at pos + initDepth in the same scan: the pre-round then goes
    // directly into classRanks, skipping one whole per-doc lead-window
    // exchange (the round's first of two shuffles).
    val initDepth = if (direct) math.min(4, cfg.maxDepth) else 1
    val needPre = initDepth < cfg.maxDepth
    val base = docs.select(col("k").cast("long"), col("text"))
      .as[(Long, String)]
      .flatMap { case (k, t) =>
        if (t == null) Iterator.empty
        else {
          val b = t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val d = initDepth
          def pack(q: Int): Long = {
            var r = 0L
            var j = 0
            while (j < d) {
              r = (r << 9) | (if (q + j < b.length) (b(q + j) & 0xff) + 1L else 0L)
              j += 1
            }
            r
          }
          Iterator.range(0, b.length).map(p =>
            (k, p.toLong, (b.length - p).toLong, pack(p), pack(p + d)))
        }
      }
      .toDF("k", "pos", "slen", "rank", "r2")
      .localCheckpoint(true)

    // level tables: levels(i) holds exact equality classes of
    // initDepth*2^i-byte (end-truncated) prefixes -- retained only for
    // the walk-mode LCP (initDepth = 1 there)
    val levels = scala.collection.mutable.ArrayBuffer(base.select("k", "pos", "rank"))
    val byDoc = Window.partitionBy("k").orderBy("pos")
    var step = initDepth
    var prevClasses = -1L
    var fixed = false
    var cur =
      if (!needPre) base.select("k", "pos", "slen", "rank")
      else {
        val (ranked, nClasses) = classRanks(base, cfg.parts)
        prevClasses = nClasses
        step = initDepth * 2
        if (!direct) levels += ranked.select("k", "pos", "rank")
        ranked
      }
    while (step < cfg.maxDepth && !fixed) {
      // rank of the suffix `step` positions ahead IN THE SAME DOC;
      // positions are dense 0..len-1 per doc, so a row offset IS a byte
      // offset. 0 = the suffix ends within this half (beyond-end
      // sentinel). Pinned eagerly: the range exchange inside classRanks
      // samples its child with a separate job, which would otherwise
      // re-run this window's sort a second time per round.
      // SKEW LIMIT: the per-doc window puts every position of one doc in
      // one task per round -- fine at web-scale doc sizes, but a single
      // multi-GB document becomes a straggler here; the (k, pos)
      // equi-join formulation distributes at ~2x the shuffled bytes if a
      // corpus ever needs it.
      val withR2 = cur.withColumn("r2",
        coalesce(lead(col("rank"), step).over(byDoc), lit(0L)))
        .localCheckpoint(true)
      val (ranked, nClasses) = classRanks(withR2, cfg.parts)
      cur = ranked
      if (nClasses == prevClasses) {
        // Manber-Myers fixed point: same class count under refinement =
        // identical partition = stable at every further depth. The new
        // level table would duplicate the previous one; don't keep it.
        fixed = true
      } else if (!direct) {
        // level tables only feed the walk-mode LCP; direct mode never
        // reads them, so don't hold round outputs alive there
        levels += cur.select("k", "pos", "rank")
      }
      prevClasses = nClasses
      step *= 2
    }

    if (direct) {
      // LCP by direct byte comparison: each position carries its (end-
      // truncated) maxDepth-byte prefix, sliced in the docs scan -- no
      // level joins. Rank ties cap at maxDepth (fixed-point ties are
      // equal at EVERY depth, so the cap is exact); untied neighbors
      // diverge strictly inside maxDepth, so the byte compare is exact.
      //
      // gidx and lcp are FUSED into the one final (rank, k, pos) range
      // sort: the prefix bytes are attached (one narrow equi-join)
      // BEFORE the sort, and a single per-partition adjacent scan then
      // assigns the dense global index and compares each row to its
      // predecessor in place. Cross-partition seams (the dense-index
      // offset and each partition's predecessor row) come from one
      // (pid, count, lastRank, lastPfx) tuple per partition -- metadata
      // scale -- so the previous plan's gidx+1 self-join (two more full
      // exchanges of the index) disappears entirely.
      // NOTE the determinism contract: `docs` is scanned twice (initial
      // ranks + this prefix table) and the two scans must agree --
      // nondeterministic sources must be checkpointed by the caller.
      val prefixes = docs.select(col("k").cast("long"), col("text"))
        .as[(Long, String)]
        .flatMap { case (k, t) =>
          if (t == null) Iterator.empty
          else {
            val b = t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            Iterator.range(0, b.length).map(p =>
              (k, p.toLong, java.util.Arrays.copyOfRange(
                b, p, math.min(b.length, p + cfg.maxDepth))))
          }
        }
        .toDF("k", "pos", "pfx")
      // pin the joined frame: the range exchange's sampling job would
      // otherwise execute the join twice
      val joined = cur.join(prefixes, Seq("k", "pos"))
        .select("k", "pos", "slen", "rank", "pfx")
        .localCheckpoint(true)
      val parted = joined
        .repartitionByRange(cfg.parts, col("rank"), col("k"), col("pos"))
        .sortWithinPartitions("rank", "k", "pos")
        .withColumn("_pid", spark_partition_id())
        .select("k", "pos", "slen", "rank", "pfx", "_pid")
        .as[(Long, Long, Long, Long, Array[Byte], Int)]
        .localCheckpoint(true)
      val stats = parted.mapPartitions { it =>
        if (!it.hasNext) Iterator.empty
        else {
          var pid = 0; var n = 0L; var lr = 0L; var lp: Array[Byte] = null
          it.foreach { case (_, _, _, r, p, i) => pid = i; n += 1; lr = r; lp = p }
          Iterator.single((pid, n, lr, lp))
        }
      }.collect().sortBy(_._1)
      var acc = 0L
      var prevRow: (Long, Array[Byte]) = null
      val seam = stats.map { case (pid, n, lr, lp) =>
        val s = (pid, (acc, prevRow)); acc += n; prevRow = (lr, lp); s
      }.toMap
      val bcSeam = spark.sparkContext.broadcast(seam)
      val md = cfg.maxDepth.toLong
      parted.mapPartitions { it =>
        if (!it.hasNext) Iterator.empty
        else {
          val buf = it.buffered
          val (base, p0) = bcSeam.value(buf.head._6)
          var gidx = base - 1L
          var pr = if (p0 == null) Long.MinValue else p0._1
          var ppfx = if (p0 == null) null else p0._2
          buf.map { case (k, pos, slen, r, pfx, _) =>
            gidx += 1
            val lcp: java.lang.Long =
              if (ppfx == null) null
              else if (r == pr) java.lang.Long.valueOf(md)
              else {
                var i = 0
                val n = math.min(pfx.length, ppfx.length)
                while (i < n && pfx(i) == ppfx(i)) i += 1
                java.lang.Long.valueOf(i.toLong)
              }
            pr = r; ppfx = pfx
            (gidx, k, pos, slen, r, lcp)
          }
        }
      }.toDF("gidx", "k", "pos", "slen", "rank", "lcp")
    } else {
      // final bounded-depth order; (rank, k, pos) is unique so gidx is a
      // total order with rank-tied suffixes contiguous
      val ordered0 = withGlobalIndex(cur, Seq("rank", "k", "pos"), "gidx", cfg.parts)
        .localCheckpoint(true)
      val prev = ordered0.select((col("gidx") + 1L).as("gidx"),
        col("k").as("pk"), col("pos").as("ppos"), col("rank").as("prank"))
      var pairs = ordered0.join(prev, Seq("gidx"), "left")
        .withColumn("lcp",
          when(col("prank").isNull, lit(null).cast("long"))
            .when(col("prank") === col("rank"), lit(cfg.maxDepth.toLong))
            .otherwise(lit(0L)))
        .withColumn("_done", col("prank").isNull || col("prank") === col("rank"))

      // exact LCP with the previous suffix by the standard doubling walk,
      // high level to low: if the 2^i-prefix ranks at offset `lcp` agree,
      // the true lcp extends by 2^i. All joins are narrow equi-joins
      // against the pinned level tables -- no text bytes move. With an
      // early fixed-point stop, untied neighbors diverge strictly below
      // the deepest computed level, so the retained levels are complete.
      for (i <- (levels.size - 2) to 0 by -1) {
        val len = 1L << i
        val a = levels(i).select(col("k").as("ak"), col("pos").as("apos"),
          col("rank").as("ar"))
        val b = levels(i).select(col("k").as("bk"), col("pos").as("bpos"),
          col("rank").as("br"))
        pairs = pairs
          .join(a, col("k") === col("ak") &&
            col("pos") + col("lcp") === col("apos"), "left")
          .join(b, col("pk") === col("bk") &&
            col("ppos") + col("lcp") === col("bpos"), "left")
          .withColumn("lcp",
            when(!col("_done") && col("ar").isNotNull && col("ar") === col("br"),
              col("lcp") + len).otherwise(col("lcp")))
          .drop("ak", "apos", "ar", "bk", "bpos", "br")
        pairs = pairs.localCheckpoint(true) // bound the 2-joins-per-level plan
      }
      pairs.select("gidx", "k", "pos", "slen", "rank", "lcp")
    }
  }

  /** Zero-round direct build for maxDepth <= 8 * initDepth (i.e. <= 32
    * bytes with the 4-byte pack): every position's full end-truncated
    * maxDepth-byte prefix is packed into `nk` 36-bit keys of 9-bit
    * digits (byte+1; 0 = beyond-end sentinel) IN THE SCAN, and the
    * bounded-depth suffix order is then literally one range sort on
    * (keys, k, pos). Dense gidx, dense rank (equality classes = equal
    * key arrays) and the adjacent LCP (digit-wise compare of the packed
    * keys -- the prefix bytes are fully recoverable from the digits) all
    * come out of a single per-partition adjacent pass; the cross-
    * partition seam is one (pid, rows, classes, firstKeys, lastKeys)
    * tuple per partition. Replaces 5 doubling rounds (each two full
    * exchanges) with ONE exchange for the driver's maxDepth=32 index.
    * Determinism note: `docs` is scanned exactly once here.
    */
  private def buildFused(docs: DataFrame, cfg: Config, initDepth: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val nk = cfg.maxDepth / initDepth
    val d = initDepth
    val base = docs.select(col("k").cast("long"), col("text"))
      .as[(Long, String)]
      .flatMap { case (k, t) =>
        if (t == null) Iterator.empty
        else {
          val b = t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          def pack(q: Int): Long = {
            var r = 0L
            var j = 0
            while (j < d) {
              r = (r << 9) | (if (q + j < b.length) (b(q + j) & 0xff) + 1L else 0L)
              j += 1
            }
            r
          }
          Iterator.range(0, b.length).map { p =>
            val keys = new Array[Long](nk)
            var i = 0
            while (i < nk) { keys(i) = pack(p + i * d); i += 1 }
            (k, p.toLong, (b.length - p).toLong, keys)
          }
        }
      }
      .toDF("k", "pos", "slen", "keys")
      .localCheckpoint(true) // pin: the range exchange samples its child twice
    val parted = base
      .repartitionByRange(cfg.parts, col("keys"), col("k"), col("pos"))
      .sortWithinPartitions("keys", "k", "pos")
      .withColumn("_pid", spark_partition_id())
      .select("k", "pos", "slen", "keys", "_pid")
      .as[(Long, Long, Long, Array[Long], Int)]
      .localCheckpoint(true)
    val stats = parted.mapPartitions { it =>
      if (!it.hasNext) Iterator.empty
      else {
        val first = it.next()
        val pid = first._5
        var n = 1L
        var bounds = 1L
        var prev = first._4
        it.foreach { case (_, _, _, ks, _) =>
          n += 1
          if (!java.util.Arrays.equals(ks, prev)) { bounds += 1; prev = ks }
        }
        Iterator.single((pid, n, bounds, first._4, prev))
      }
    }.collect().sortBy(_._1)
    // seam per partition: dense row offset, count of class ids assigned in
    // earlier partitions (the first class here CONTINUES the previous
    // partition's last class when the boundary keys are equal -- then the
    // adjacent pass's tie detection against prevLast reuses its id), and
    // the previous partition's closing keys for the first row's lcp
    var rowAcc = 0L
    var rankAcc = 0L
    var prevLast: Array[Long] = null
    val seam = stats.map { case (pid, n, bounds, fk, lk) =>
      val cont = prevLast != null && java.util.Arrays.equals(prevLast, fk)
      val s = (pid, (rowAcc, rankAcc, prevLast))
      rowAcc += n
      rankAcc += bounds - (if (cont) 1L else 0L)
      prevLast = lk
      s
    }.toMap
    val bcSeam = spark.sparkContext.broadcast(seam)
    val md = cfg.maxDepth.toLong
    parted.mapPartitions { it =>
      if (!it.hasNext) Iterator.empty
      else {
        val buf = it.buffered
        val (gBase, rBase, p0) = bcSeam.value(buf.head._5)
        var gidx = gBase - 1L
        var rank = rBase
        var prev = p0
        buf.map { case (k, pos, slen, ks, _) =>
          gidx += 1
          val tie = prev != null && java.util.Arrays.equals(ks, prev)
          if (!tie) rank += 1
          val lcp: java.lang.Long =
            if (prev == null) null
            else if (tie) java.lang.Long.valueOf(md)
            else {
              var i = 0
              while (ks(i) == prev(i)) i += 1
              var eq = 0
              var sh = 9 * (d - 1)
              while (sh >= 0 && ((ks(i) >> sh) & 0x1ffL) == ((prev(i) >> sh) & 0x1ffL)) {
                eq += 1; sh -= 9
              }
              java.lang.Long.valueOf(i.toLong * d + eq)
            }
          prev = ks
          (gidx, k, pos, slen, rank, lcp)
        }
      }
    }.toDF("gidx", "k", "pos", "slen", "rank", "lcp")
  }

  /** Remove-ranges at any `minLen <= maxDepth` from a prebuilt index --
    * NO re-sort, no window exchange: eligible suffixes (slen >= minLen)
    * in index order segment into equal-minLen-prefix classes wherever the
    * stored adjacent lcp stays >= minLen; every class member except the
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
    * `indexDepth` (optional) declares the build's maxDepth, which enables
    * the minLen == maxDepth shortcut below. A declaration that is not the
    * depth `build` recorded throws an IllegalArgumentException naming
    * both: trusting a wrong one would merge classes across rank-tie runs.
    */
  def removeRanges(index: DataFrame, minLen: Int, indexDepth: Int = -1): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    // minLen == maxDepth shortcut (caller declares the build depth): a
    // segment is then exactly a rank-tie run -- stored lcp is maxDepth on
    // ties and strictly below it otherwise -- and tie runs are sorted by
    // (k, pos) within the index order (rank, k, pos), so the FIRST member
    // of every class is its min-(k,pos) keeper and every CONTINUING
    // member is removable. "Removable" collapses to the per-row predicate
    // `slen >= minLen AND lcp >= minLen`: no partition-layout probe, no
    // segment seam, no keeper aggregation or join -- one filter feeding
    // the range coalescer. (Short suffixes can never sit inside an
    // eligible tie run: a depth-maxDepth tie aligns the beyond-end
    // sentinels, so a class is either all >= maxDepth long with equal
    // bytes or all identical short suffixes -- whole classes drop at the
    // slen filter, never individual interior rows. A row whose stored
    // lcp >= minLen also proves its ORIGINAL predecessor shares minLen
    // bytes and is therefore eligible and in the same class.)
    if (indexDepth >= 0) {
      val recorded = depthOf(index)
      if (!recorded.contains(indexDepth)) throw new IllegalArgumentException(
        s"declared indexDepth $indexDepth disagrees with the index's recorded build depth " +
          recorded.getOrElse("(none)"))
    }
    if (indexDepth == minLen) {
      val removable = index
        .where(col("slen") >= minLen && col("lcp").isNotNull && col("lcp") >= minLen)
        .select("k", "pos")
      return SubstringDedup.coalesceRanges(removable, minLen)
    }
    // FAST PATH: a freshly built (or checkpointed) index is already laid
    // out in gidx order -- the build's final sort IS that order, and
    // mapPartitions preserves it -- so the segment scan can run on the
    // existing partitions with NO exchange at all. One stats pass both
    // VALIDATES the layout (gidx ascending within partitions and across
    // partition ids; anything else -- e.g. an index re-read from
    // unsorted storage -- falls back to the sorting path below) and
    // collects the per-partition seams: eligible-row counts, first/last
    // break flags, and the flagged-break sums that give each partition
    // its global segment-id base.
    val probe = index.select(col("gidx"), col("k"), col("pos"),
        col("slen"), col("lcp"))
      .withColumn("_pid", spark_partition_id())
      .as[(Long, Long, Long, Long, java.lang.Long, Int)]
    val stats = probe.mapPartitions { it =>
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
        if (pid < 0) Iterator.empty
        else Iterator.single((pid, asc, minG, maxG, nElig, firstBrk, lastBrk, flaggedSum))
      }
    }.collect().sortBy(_._1)
    val aligned = stats.forall(_._2) &&
      stats.iterator.sliding(2).withPartial(false)
        .forall(w => w(0)._4 < w(1)._3)
    if (!aligned) return removeRangesSorted(index, minLen)
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
    val seg = probe.mapPartitions { it =>
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

  /** Sorting fallback of removeRanges: same contract for an index whose
    * physical layout is NOT gidx-aligned (e.g. re-read from storage in
    * arbitrary order) -- one range exchange restores the order, then the
    * same multi-member-segment prune and keeper machinery runs.
    */
  private[graft] def removeRangesSorted(index: DataFrame, minLen: Int): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    val parts = spark.conf
      .getOption("spark.sql.shuffle.partitions").map(_.toInt).getOrElse(32)
    // A removable position can only come from a segment with >= 2
    // members, and eligible suffixes in index order segment wherever the
    // stored lcp stays >= minLen -- so a row is in a multi-member segment
    // iff it CONTINUES its predecessor (brk = 0) or its SUCCESSOR
    // continues it (next row's brk = 0). Singleton segments -- the vast
    // majority on low-duplication corpora -- are dropped right here with
    // one partition-local lookahead, so the segment-numbering sort, the
    // keeper aggregation and the keeper join all run over the duplicate
    // rows only instead of the full index. The cross-partition seam (is
    // my last row continued by the next partition's first row?) is one
    // (pid, firstBrk) tuple per partition -- metadata scale.
    val eligible = index.where(col("slen") >= minLen)
      .withColumn("brk",
        when(col("lcp").isNull || col("lcp") < minLen, 1L).otherwise(0L))
    val parted = eligible
      .repartitionByRange(parts, col("gidx"))
      .sortWithinPartitions("gidx")
      .withColumn("_pid", spark_partition_id())
      .select("gidx", "k", "pos", "brk", "_pid")
      .as[(Long, Long, Long, Long, Int)]
      .localCheckpoint(true)
    val firstBrk = parted.mapPartitions { it =>
      if (!it.hasNext) Iterator.empty
      else { val r = it.next(); Iterator.single((r._5, r._4)) }
    }.collect().sortBy(_._1)
    // brk of the first row of the NEXT non-empty partition; 1 at the end
    // (nothing continues the final row)
    val nextFirst: Map[Int, Long] =
      firstBrk.zip(firstBrk.drop(1).map(_._2) :+ 1L)
        .map { case ((pid, _), nb) => (pid, nb) }.toMap
    val bcNext = spark.sparkContext.broadcast(nextFirst)
    val flagged = parted.mapPartitions { it =>
      if (!it.hasNext) Iterator.empty
      else {
        val buf = it.buffered
        val tailBrk = bcNext.value(buf.head._5)
        new Iterator[(Long, Long, Long, Long)] {
          def hasNext: Boolean = buf.hasNext
          def next(): (Long, Long, Long, Long) = {
            val (gidx, k, pos, brk, _) = buf.next()
            val nb = if (buf.hasNext) buf.head._4 else tailBrk
            (gidx, k, pos, if (brk == 0L || nb == 0L) brk else -1L)
          }
        }.filter(_._4 >= 0L)
      }
    }.toDF("gidx", "k", "pos", "brk")
    val seg = withRunningTotal(flagged, Seq("gidx"), col("brk"), "seg", parts)
    val keep = seg.groupBy("seg")
      .agg(min(struct(col("k"), col("pos"))).as("kp"))
    val removable = seg.join(keep, "seg")
      .where(col("k") =!= col("kp.k") || col("pos") =!= col("kp.pos"))
      .select("k", "pos")
    SubstringDedup.coalesceRanges(removable, minLen)
  }
}
