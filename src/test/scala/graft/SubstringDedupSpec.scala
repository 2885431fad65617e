package graft

import java.nio.charset.StandardCharsets.UTF_8
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import graft.operators.SubstringDedup
import graft.functions.Utf8

/** Differential tests: the substring-dedup spine (every unit, with and
  * without the verifier's doc-key prune) against a brute-force
  * reimplementation of the reference naive mode
  * (cpp_engine_dedup.h:215-302) on small random
  * corpora -- the same correctness strategy the reference itself uses
  * (naive vs parallel vs parallel_sharded, workflow_toy.sh:16-33).
  */
class SubstringDedupSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  /** Brute-force oracle (shared with the end-to-end JSONL differential). */
  def bruteRanges(docs: Seq[(Long, String)], minLen: Int): Set[(Long, Long, Long)] =
    DedupTestOracle.bruteRanges(docs, minLen)

  def randomDocs(seed: Int, n: Int, alphabet: String): Seq[(Long, String)] = {
    val r = new scala.util.Random(seed)
    (0 until n).map { i =>
      val len = r.nextInt(80)
      (i.toLong, (0 until len).map(_ => alphabet(r.nextInt(alphabet.length))).mkString)
    }
  }

  def spark_(docs: Seq[(Long, String)]) = docs.toDF("k", "text")

  /** Dense random docs over "abc" (duplicate runs at small minLen) where
    * about half the docs also carry a verbatim 45..75-byte slice of an
    * earlier doc, so long windows (minLen 40) have duplicates too.
    */
  def plantedDocs(seed: Int, n: Int): Seq[(Long, String)] = {
    val r = new scala.util.Random(seed)
    def noise(len: Int) = (0 until len).map(_ => "abc"(r.nextInt(3))).mkString
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    for (i <- 0 until n) {
      val t = noise(40 + r.nextInt(80))
      val src = if (i > 0 && r.nextBoolean()) texts(r.nextInt(i)) else ""
      texts += (if (src.length < 75) t else {
        val s = r.nextInt(src.length - 75 + 1)
        val cut = r.nextInt(t.length + 1)
        t.take(cut) + src.substring(s, s + 45 + r.nextInt(31)) + t.drop(cut)
      })
    }
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toSeq
  }

  test("byte plans: prune x minLen match brute force") {
    // minLen 6 takes the inline-verified run scan; minLen 40 takes the
    // key-join verifier, with and without the doc-key prune (the JSONL
    // workflow's setting)
    for (seed <- Seq(1, 2, 3); minLen <- Seq(6, 40)) {
      val docs = plantedDocs(seed, 25)
      val expected = bruteRanges(docs, minLen)
      assert(expected.nonEmpty, s"seed=$seed minLen=$minLen plants no duplicate")
      val df = spark_(docs)
      for (prune <- Seq(false, true)) {
        val cfg = SubstringDedup.Config(minLen, verifyPrune = prune)
        val got = SubstringDedup.removeRanges(df, cfg).as[(Long, Long, Long)].collect().toSet
        assert(got == expected, s"seed=$seed minLen=$minLen prune=$prune")
        // dupPtrs is the spine removeRanges coalesces: the exact groups
        val ptrs = SubstringDedup.dupPtrs(df, cfg).as[(Long, Long, Boolean)].collect().toSet
        assert(ptrs == DedupTestOracle.bruteMembers(docs, minLen),
          s"dupPtrs seed=$seed minLen=$minLen prune=$prune")
      }
    }
  }

  test("forced hash collisions: every window in one hash run, spine stays exact") {
    // h1/h2 overwritten by constants: every window of the corpus lands in
    // ONE hash run, so the verifier alone decides every group. A member
    // compared only with its hash run's first row would keep B' in a run
    // [A, B, B'] with B = B' != A.
    val collide = (w: DataFrame) => w.withColumn("h1", lit(7L)).withColumn("h2", lit(11L))
    def check(what: String, df: DataFrame, unit: SubstringDedup.WindowUnit, minLen: Int,
              brute: Set[(Long, Long, Boolean)]): Unit = {
      assert(DedupTestOracle.dropped(brute).nonEmpty, s"$what plants no duplicate")
      for (prune <- Seq(false, true)) {
        val cfg = SubstringDedup.Config(minLen, verifyPrune = prune)
        val ranges = SubstringDedup.removeRanges(df, unit, cfg, collide)
          .as[(Long, Long, Long)].collect().toSet
        assert(ranges == DedupTestOracle.coalesce(DedupTestOracle.dropped(brute), minLen),
          s"$what prune=$prune ranges")
        val ptrs = SubstringDedup.members(df, unit, cfg, collide)
          .as[(Long, Long, Boolean)].collect().toSet
        assert(DedupTestOracle.dropped(ptrs) == DedupTestOracle.dropped(brute),
          s"$what prune=$prune dropped")
        assert(ptrs == brute, s"$what prune=$prune members")
      }
    }
    val docs = plantedDocs(4, 12)
    for (minLen <- Seq(6, 40)) // inline bytes, join verifier
      check(s"bytes minLen=$minLen", spark_(docs), SubstringDedup.Bytes, minLen,
        DedupTestOracle.bruteMembers(docs, minLen))
    val words = "aa bb cc dd ee".split(" ")
    val r = new scala.util.Random(9)
    val wdocs = (0 until 20).map { i =>
      (i.toLong, (0 until r.nextInt(25)).map(_ => words(r.nextInt(words.length))).mkString(" "))
    }
    val idsDf = wdocs.map { case (k, t) =>
      (k, t.split(' ').filter(_.nonEmpty).map(w => words.indexOf(w).toLong))
    }.toDF("k", "tokens")
    // tokens holding NUL: a key that joined tokens with NUL called
    // ["a\0b", "c"] and ["a", "b\0c"] equal (forward), and
    // ["a\0b", "c"] and ["a", "b\0c"] again in the reversed streams of
    // docs 3 and 4; docs 0 and 2 are the one real duplicate
    val nul = Seq("a\u0000b c", "a b\u0000c", "a\u0000b c", "c a\u0000b", "b\u0000c a")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    // ids whose decimal forms concatenate alike: [1, 23] is not [12, 3]
    val glued = Seq(Seq(1L, 23L), Seq(12L, 3L), Seq(1L, 23L), Seq(5L, 1L, 23L))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    for (rev <- Seq(false, true)) {
      val brute = DedupTestOracle.bruteTokenMembers(wdocs, 3, rev)
      check(s"tokens reversed=$rev", spark_(wdocs), SubstringDedup.Tokens(rev), 3, brute)
      check(s"ids reversed=$rev", idsDf, SubstringDedup.Ids(rev), 3, brute)
      check(s"NUL tokens reversed=$rev", spark_(nul), SubstringDedup.Tokens(rev), 2,
        DedupTestOracle.bruteTokenMembers(nul, 2, rev))
      check(s"glued ids reversed=$rev", glued.toDF("k", "tokens"), SubstringDedup.Ids(rev), 2,
        DedupTestOracle.members(glued.map { case (k, t) =>
          (k, (if (rev) t.reverse else t).toIndexedSeq) }, 2))
    }
  }

  test("plan shape: minLen 32 joins nothing, pruned minLen 500 joins once") {
    val r = new scala.util.Random(3)
    val base = (0 until 20).map(i => (i.toLong, (0 until 900).map(_ => "abcdefgh"(r.nextInt(8))).mkString))
    val df = spark_(base ++ base.take(3).map { case (k, t) => (k + 100, t) })
    val planHelper = new AdaptiveSparkPlanHelper {}
    def joins(out: DataFrame): Int = {
      out.collect()
      planHelper.collect(out.queryExecution.executedPlan) { case j: BaseJoinExec => j }.size
    }
    // inline verification: the window bytes ride the one hash exchange
    assert(joins(SubstringDedup.removeRanges(df, SubstringDedup.Config(32))) == 0)
    assert(joins(SubstringDedup.dupPtrs(df, SubstringDedup.Config(32))) == 0)
    // the prefilter pins the marked docs, so the executed plan holds just
    // the verifier's one join of the hash-run members to those docs
    val pruned = SubstringDedup.Config(500, verifyPrune = true)
    assert(joins(SubstringDedup.removeRanges(df, pruned)) == 1)
    assert(joins(SubstringDedup.dupPtrs(df, pruned)) == 1)
  }

  test("byte prefilter edge cases: minLen 33..500 match brute force") {
    val r = new scala.util.Random(17)
    // letters never repeat a 33-byte run by chance; `|` fences each plant
    def noise(len: Int) = (0 until len).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    def mb(len: Int) = (0 until len).map(_ => "é日😊x"(r.nextInt(4))).mkString
    for (minLen <- Seq(33, 40, 64, 65, 500)) {
      val run = noise(minLen)
      // 3-byte chars on both sides of a multi-byte run, so its minLen
      // windows start and end inside characters
      val mbRun = mb(minLen / 2) + "日" * minLen
      val corpora: Seq[(String, Seq[(Long, String)])] = Seq(
        "shared run of exactly minLen" -> Seq(
          (1L, noise(50) + "|" + run + "|" + noise(30)),
          (2L, noise(20)),
          (3L, noise(7) + "|" + run + "|" + noise(90))),
        "repeat inside one doc" -> Seq(
          (1L, noise(40)),
          (2L, noise(10) + "|" + run + "|" + noise(25) + "|" + run + "|"),
          (3L, noise(minLen + 60))),
        "all-identical corpus" -> {
          val t = noise(minLen + 40)
          (1L to 24L).map(k => (k, t))
        },
        "short and null docs" -> Seq(
          (1L, noise(minLen - 1)), (2L, null), (3L, ""),
          (4L, noise(minLen - 1)), (5L, null)),
        "multi-byte UTF-8 across the run edges" -> Seq(
          (1L, mb(9) + mbRun + mb(11)),
          (2L, "é" + mbRun + "😊"),
          (3L, mb(minLen))))
      for ((name, docs) <- corpora) {
        val expected = bruteRanges(docs.filter(_._2 != null), minLen)
        if (name != "short and null docs")
          assert(expected.nonEmpty, s"$name minLen=$minLen plants no duplicate")
        val got = SubstringDedup.removeRanges(spark_(docs), SubstringDedup.Config(minLen))
          .as[(Long, Long, Long)].collect().toSet
        assert(got == expected, s"$name minLen=$minLen")
      }
    }
  }

  test("byte prefilter: only the two docs sharing a run become candidates") {
    val r = new scala.util.Random(5)
    def noise(len: Int) = (0 until len).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    val run = noise(600)
    val docs = (0L until 50L).map { k =>
      (k, if (k == 12L || k == 31L) noise(200) + run + noise(150) else noise(700 + r.nextInt(300)))
    }
    val df = spark_(docs)
    assert(SubstringDedup.runCandidateKeys(df, 500).as[Long].collect().toSet == Set(12L, 31L))
    assert(SubstringDedup.removeRanges(df, SubstringDedup.Config(500))
      .as[(Long, Long, Long)].collect().toSet == bruteRanges(docs, 500))
  }

  def bruteTokenRanges(docs: Seq[(Long, String)], minLenTok: Int,
                       reversed: Boolean): Set[(Long, Long, Long)] =
    DedupTestOracle.bruteTokenRanges(docs, minLenTok, reversed)

  test("token-unit dedup (C2): forward and reversed match brute force") {
    val words = "aa bb cc dd ee".split(" ")
    val r = new scala.util.Random(5)
    val docs = (0 until 30).map { i =>
      (i.toLong, (0 until r.nextInt(30)).map(_ => words(r.nextInt(words.length))).mkString(" "))
    }
    val df = spark_(docs)
    for (rev <- Seq(false, true); prune <- Seq(false, true)) {
      val cfg = SubstringDedup.Config(4, verifyPrune = prune)
      val got = SubstringDedup.removeRanges(df, SubstringDedup.Tokens(rev), cfg)
        .as[(Long, Long, Long)].collect().toSet
      assert(got == bruteTokenRanges(docs, 4, rev), s"reversed=$rev prune=$prune")
      val ptrs = SubstringDedup.members(df, SubstringDedup.Tokens(rev), cfg)
        .as[(Long, Long, Boolean)].collect().toSet
      assert(ptrs == DedupTestOracle.bruteTokenMembers(docs, 4, rev),
        s"members reversed=$rev prune=$prune")
    }
  }

  test("ids-unit dedup (C2 production shape): matches token-unit under an injective vocab") {
    // same corpus as the token test, pre-tokenized through an injective
    // vocab (word -> index): the ids-mode result must equal the
    // token-mode result position for position, forward and reversed
    val words = "aa bb cc dd ee".split(" ")
    val vocab = words.zipWithIndex.toMap
    val r = new scala.util.Random(5)
    val docs = (0 until 30).map { i =>
      (i.toLong, (0 until r.nextInt(30)).map(_ => words(r.nextInt(words.length))).mkString(" "))
    }
    val textDf = spark_(docs)
    val idsDf = docs.map { case (k, t) =>
      (k, t.split(' ').filter(_.nonEmpty).map(w => vocab(w).toLong))
    }.toDF("k", "tokens")
    for (rev <- Seq(false, true)) {
      val viaTokens = SubstringDedup.removeRanges(textDf, SubstringDedup.Tokens(rev),
        SubstringDedup.Config(4)).as[(Long, Long, Long)].collect().toSet
      for (prune <- Seq(false, true)) {
        val cfg = SubstringDedup.Config(4, verifyPrune = prune)
        val viaIds = SubstringDedup.removeRanges(idsDf, SubstringDedup.Ids(rev), cfg)
          .as[(Long, Long, Long)].collect().toSet
        assert(viaIds == viaTokens, s"reversed=$rev prune=$prune")
        val ptrs = SubstringDedup.members(idsDf, SubstringDedup.Ids(rev), cfg)
          .as[(Long, Long, Boolean)].collect().toSet
        assert(ptrs == DedupTestOracle.bruteTokenMembers(docs, 4, rev),
          s"members reversed=$rev prune=$prune")
      }
    }
    // ids ARE the content: two docs with different provenance but equal
    // id runs dedup against each other (second occurrence removed)
    val run = Array.tabulate(6)(i => (100 + i).toLong)
    val planted = Seq(
      (1L, run ++ Array(7L, 8L)),
      (2L, Array(9L) ++ run)).toDF("k", "tokens")
    val got = SubstringDedup.removeRanges(planted, SubstringDedup.Ids(false), SubstringDedup.Config(6))
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((2L, 1L, 7L)))
  }

  test("window generation: a null id fails loudly, null text yields no windows") {
    def messages(e: Throwable) =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    for (rev <- Seq(false, true)) {
      val ids = Seq((1L, Seq[java.lang.Long](7L, null, 8L, 9L))).toDF("k", "tokens")
      val e = intercept[Exception](
        SubstringDedup.removeRanges(ids, SubstringDedup.Ids(rev), SubstringDedup.Config(2)).collect())
      assert(messages(e).contains("graft_window_gen: null array element at index 1"),
        s"reversed=$rev: ${messages(e)}")
    }
    // token strings are hashed to digits before the generator, which
    // rejects a string array at analysis
    val ts = Seq((1L, Seq("a", "b", "c"))).toDF("k", "ts")
    val e = intercept[org.apache.spark.sql.AnalysisException](
      ts.select(graft.functions.GraftFunctions.windowGen($"ts", 2).as(Seq("h1", "h2", "pos")))
        .collect())
    assert(messages(e).contains("graft_window_gen takes binary or array<bigint>"), messages(e))
    val docs = Seq((1L, null: String), (2L, "abcdefgh")).toDF("k", "text")
    assert(SubstringDedup.windows(docs, 4).as[(Long, Long, Long, Long)].collect()
      .map(_._3).toSeq == Seq.fill(5)(2L))
  }

  test("A7 slices: dropped spans carry the actual window text") {
    val dup = "0123456789abcdefghij" // 20 bytes, minLen 10
    val docs = Seq((1L, s"$dup and a tail unique to doc one"),
                   (2L, s"prefix two $dup suffix <two>"))
    val df = spark_(docs)
    val slices = SubstringDedup.dupDocSlices(df, SubstringDedup.Config(10))
      .as[(Long, Long, Boolean, String)].collect()
    // every dropped slice in doc 2 must be an actual substring of doc 2
    val dropped = slices.filter(s => s._1 == 2L && s._3)
    assert(dropped.nonEmpty)
    dropped.foreach { case (_, pos, _, snip) =>
      assert(docs(1)._2.substring(pos.toInt, pos.toInt + 10) == snip)
    }
    // doc 1 holds the kept (first-occurrence) copies
    assert(slices.filter(s => s._1 == 1L).forall(!_._3))
  }

  /** Remove-ranges from a depth-`depth` suffix index over `df`. */
  def viaIndex(df: DataFrame, depth: Int, parts: Int = 4): Set[(Long, Long, Long)] =
    operators.SuffixIndex.removeRanges(operators.SuffixIndex.build(df,
      operators.SuffixIndex.Config(depth, parts))).as[(Long, Long, Long)].collect().toSet

  test("suffix index: one build per depth matches the spine") {
    // docs long enough for minLen 32/64 windows, with planted verbatim
    // copies (cross-doc dups) and a repeated intra-doc run
    val r = new scala.util.Random(11)
    val base = (0 until 12).map { i =>
      (i.toLong, (0 until (70 + r.nextInt(60))).map(_ => "abcd"(r.nextInt(4))).mkString)
    }
    val docs = base ++ base.take(4).map { case (k, t) => (k + 100L, t) } :+
      (200L, base.head._2.take(70) * 2) // intra-doc repeat of a 70-byte run
    val df = spark_(docs)
    for (depth <- Seq(32, 64)) {
      val got = viaIndex(df, depth, parts = 8)
      val spine = SubstringDedup.removeRanges(df, SubstringDedup.Config(depth))
        .as[(Long, Long, Long)].collect().toSet
      assert(got == spine, s"depth=$depth")
      assert(got == bruteRanges(docs, depth), s"depth=$depth vs brute")
    }
  }

  test("suffix index: removeRanges is exact on any row layout") {
    // the per-row lcp predicate reads no neighbour, so an index
    // re-shuffled into arbitrary partitions (a storage re-read) answers
    // the same as the build's own layout
    val r = new scala.util.Random(7)
    val base = (0 until 10).map { i =>
      (i.toLong, (0 until (60 + r.nextInt(40))).map(_ => "abcd"(r.nextInt(4))).mkString)
    }
    val docs = base ++ base.take(3).map { case (k, t) => (k + 100L, t) } ++
      plantedDocs(7, 12).map { case (k, t) => (k + 1000L, t) }
    val df = spark_(docs)
    val index = operators.SuffixIndex.build(df,
      operators.SuffixIndex.Config(maxDepth = 32, parts = 4))
    // hash-reshuffled, and the same rows in (k, pos) order inside each
    // partition, which leaves no suffix-order neighbours adjacent
    val shuffled = index.repartition(5, col("k")).localCheckpoint(true)
    val byDoc = index.repartition(5, col("k")).sortWithinPartitions("k", "pos")
      .localCheckpoint(true)
    val expected = SubstringDedup.removeRanges(df, SubstringDedup.Config(32))
      .as[(Long, Long, Long)].collect().toSet
    assert(expected.nonEmpty)
    for ((layout, idx) <- Seq("aligned" -> index, "reshuffled" -> shuffled, "(k, pos) order" -> byDoc))
      assert(operators.SuffixIndex.removeRanges(idx)
        .as[(Long, Long, Long)].collect().toSet == expected, layout)
  }

  test("suffix index: an index without a recorded depth throws") {
    // the depth is the build's: a bare (gidx, k, pos, slen, rank, lcp)
    // table says nothing about how deep its lcp values are capped
    val docs = Seq((1L, "abcdefghijklmnopqrstuvwxyz0123456789"), (2L, "xyz0123456789abcdefghijklmnop"))
    val index = operators.SuffixIndex.build(spark_(docs),
      operators.SuffixIndex.Config(maxDepth = 16, parts = 4)).localCheckpoint(true)
    assert(operators.SuffixIndex.depthOf(index).contains(16))
    val bare = index.withColumn("lcp", col("lcp").as("lcp", org.apache.spark.sql.types.Metadata.empty))
    assert(operators.SuffixIndex.depthOf(bare).isEmpty)
    val err = intercept[IllegalArgumentException](operators.SuffixIndex.removeRanges(bare))
    assert(err.getMessage.contains("build depth"), err.getMessage)
    // the recorded depth answers and matches the brute force
    assert(operators.SuffixIndex.removeRanges(index)
      .as[(Long, Long, Long)].collect().toSet == bruteRanges(docs, 16))
  }

  test("suffix index: maxDepth below 1 throws") {
    for (maxDepth <- Seq(0, -3)) {
      val err = intercept[IllegalArgumentException] {
        operators.SuffixIndex.build(spark_(Seq((1L, "abcabc"))),
          operators.SuffixIndex.Config(maxDepth, parts = 2))
      }
      assert(err.getMessage.contains(maxDepth.toString), err.getMessage)
    }
  }

  test("suffix index: maxDepth far above the longest repeat stays exact") {
    // longest repeated substring is ~6 bytes: a depth-256 index finds no
    // ranges, and a depth-4 index over the same docs finds the short ones
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs"),
      (3L, "sphinx of black quartz judge my vow"))
    val df = spark_(docs)
    assert(viaIndex(df, 256).isEmpty)
    val short = viaIndex(df, 4)
    assert(short.nonEmpty && short == bruteRanges(docs, 4))
  }

  test("suffix index: lcp values are exact against brute-force suffix comparison") {
    // ASCII docs plus multi-byte UTF-8 (2-, 3- and 4-byte sequences):
    // bytes >= 0x80 sort AFTER ASCII only under unsigned byte order, and
    // UTF-16 String order disagrees with UTF-8 byte order for 4-byte
    // characters (surrogates) vs U+E000..U+FFFF, so the brute order below
    // is over unsigned byte arrays
    val docs = Seq((1L, "banana"), (2L, "bananas are bananas"), (3L, "anab"),
      (4L, "naïve café naïve"), (5L, "日本語の日本"), (6L, "a\uD83D\uDE00b\uFF71a\uD83D\uDE00"),
      (7L, "ﾅana\u00e9"))
    val df = spark_(docs)
    val maxDepth = 8
    val idx = operators.SuffixIndex.build(df,
      operators.SuffixIndex.Config(maxDepth, parts = 4))
      .orderBy("gidx")
      .select("gidx", "k", "pos", "rank", "lcp")
      .as[(Long, Long, Long, Long, Option[Long])].collect()
    val bytes = docs.map { case (k, t) => (k, t.getBytes(UTF_8)) }.toMap
    def suffix(k: Long, p: Long): Seq[Int] = {
      val b = bytes(k)
      b.slice(p.toInt, math.min(b.length, p.toInt + maxDepth)).toSeq.map(_ & 0xff)
    }
    val unsigned: Ordering[Seq[Int]] = Ordering.Implicits.seqOrdering[Seq, Int]
    // brute order: bounded-depth suffixes as unsigned bytes, shorter
    // first on a common prefix, ties by (k, pos)
    val bruteOrder = bytes.toSeq.flatMap { case (k, b) =>
      (0 until b.length).map(p => (suffix(k, p), k, p.toLong))
    }.sortBy(r => (r._1, r._2, r._3))(Ordering.Tuple3(unsigned, Ordering.Long, Ordering.Long))
    assert(idx.length == bruteOrder.length)
    idx.zipWithIndex.foreach { case ((gidx, k, p, rank, lcpOpt), i) =>
      val (bs, bk, bp) = bruteOrder(i)
      assert(gidx == i.toLong)
      // rank ties may permute, but the bounded suffix at each order slot
      // is unique-or-tied, so compare suffix bytes, not (k, pos)
      assert(suffix(k, p) == bs, s"order slot $i: ($k,$p) vs ($bk,$bp)")
      if (i == 0) {
        assert(lcpOpt.isEmpty)
        assert(rank == 1L)
      } else {
        val prevS = bruteOrder(i - 1)._1
        val prevRank = idx(i - 1)._4
        // bounded-equal suffixes (rank ties, incl. truncated-equal) store
        // the cap and share a rank; otherwise the exact common-prefix
        // length, and the dense rank steps by one
        val expected =
          if (bs == prevS) maxDepth
          else bs.zip(prevS).takeWhile { case (a, b) => a == b }.size
        assert(lcpOpt.contains(expected.toLong), s"slot $i lcp: got $lcpOpt want $expected")
        assert(rank == (if (bs == prevS) prevRank else prevRank + 1), s"slot $i rank")
      }
    }
  }

  test("A9 index-order verification: sorted window frame has no violations") {
    for (seed <- Seq(1, 4)) {
      val docs = spark_(randomDocs(seed, 40, "ab")) // dense duplicate runs
      assert(SubstringDedup.windowOrderViolations(docs, 6).count() == 0)
    }
  }

  test("multi-byte UTF-8: brute force agreement + annotate clips to char boundaries") {
    val docs = randomDocs(7, 20, "a日é😊b ")
    val minLen = 8
    val expected = bruteRanges(docs, minLen)
    val df = spark_(docs)
    val cfg = SubstringDedup.Config(minLen)
    assert(SubstringDedup.removeRanges(df, cfg).as[(Long, Long, Long)].collect().toSet == expected)
    assert(SubstringDedup.dupPtrs(df, cfg).as[(Long, Long, Boolean)].collect().toSet ==
      DedupTestOracle.bruteMembers(docs, minLen), "dupPtrs")

    val annotated = SubstringDedup.annotate(df, SubstringDedup.Config(minLen))
    val byK = docs.toMap
    annotated.select($"k", $"sa_remove_ranges").as[(Long, Seq[(Long, Long)])]
      .collect().foreach { case (k, ranges) =>
        val b = byK(k).getBytes(UTF_8)
        ranges.foreach { case (s, e) =>
          assert(s <= e)
          assert(s == b.length || (b(s.toInt) & 0xc0) != 0x80, s"k=$k s=$s not boundary")
          assert(e == b.length || (b(e.toInt) & 0xc0) != 0x80, s"k=$k e=$e not boundary")
          // clip only shrinks: re-clipping is identity
          assert(Utf8.clipRange(b, s, e) == ((s, e)))
        }
        // ranges stay sorted + disjoint after clipping
        ranges.sliding(2).foreach {
          case Seq((_, e1), (s2, _)) => assert(e1 <= s2)
          case _ =>
        }
      }
  }

  test("remove mode cuts exactly the clipped ranges") {
    val docs = Seq(
      (0L, "0123456789abcdefghij"),
      (1L, "xx0123456789abcdefghijyy"), // shares a 20-byte run
      // U+00E9 is C3 A9 and U+00A9 is C2 A9: doc 3 repeats doc 2's
      // window at byte 1, which starts inside its first character
      (2L, "\u00e90123456789"),
      (3L, "\u00a90123456789"))
    val minLen = 10
    val cut = SubstringDedup.cut(
      SubstringDedup.annotate(spark_(docs), SubstringDedup.Config(minLen)), SubstringDedup.Bytes)
    assert(!cut.columns.contains("sa_remove_ranges"))
    val out = cut.select($"k", $"text").as[(Long, String)].collect().toMap
    assert(out(0L) == "0123456789abcdefghij") // first occurrence kept whole
    assert(out(1L) == "xxyy") // duplicated middle removed
    assert(out(2L) == "\u00e9")
    assert(out(3L) == "\u00a9") // [1, 12) clipped to [2, 12): no half character
  }

  test("docs shorter than minLen produce no windows and survive annotate") {
    val docs = Seq((0L, "short"), (1L, "short"), (2L, ""))
    val ranges = SubstringDedup.removeRanges(spark_(docs), SubstringDedup.Config(32))
    assert(ranges.count() == 0)
    val ann = SubstringDedup.annotate(spark_(docs), SubstringDedup.Config(32))
    assert(ann.count() == 3)
    assert(ann.where(size($"sa_remove_ranges") =!= 0).count() == 0)
  }

  test("first occurrence kept under (k, pos) order: dup_ptrs flags") {
    val docs = Seq((5L, "ABCDEFGHIJKLMNOP"), (2L, "ABCDEFGHIJKLMNOP"))
    val dp = SubstringDedup.dupPtrs(spark_(docs), SubstringDedup.Config(16))
      .as[(Long, Long, Boolean)].collect().toSet
    assert(dp == Set((2L, 0L, false), (5L, 0L, true))) // k=2 is first
  }
}
