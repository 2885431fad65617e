package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Hamming, MinHashLSH, NgramJaccard, SimHash}
import graft.functions.Shingles

/** MinHash/LSH recall vs the exact inverted-index Jaccard, Hamming banding
  * vs brute force, SimHash locality.
  */
class NearDupSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val words = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi rho sigma tau".split(" ")

  private def corpus(seed: Int, nBase: Int): Seq[(Long, String)] = {
    val r = new scala.util.Random(seed)
    val base = (0 until nBase).map { i =>
      (i.toLong, (0 until 20 + r.nextInt(20)).map(_ => words(r.nextInt(words.length))).mkString(" "))
    }
    // planted near-dups: junction-append copies of every 3rd doc
    val near = base.filter(_._1 % 3 == 0).map { case (k, t) =>
      (k + 10000L, t + " " + t.take(12))
    }
    base ++ near
  }

  test("LSH verified pairs = subset of exact pairs with recall >= 0.99") {
    val docs = corpus(11, 60).toDF("k", "text")
    val exact = NgramJaccard.wordPairs(docs, 3, 0.8)
      .select($"a", $"b").as[(Long, Long)].collect().toSet
    val lsh = MinHashLSH.verifiedPairs(docs, MinHashLSH.Config(), 0.8)
      .select($"a", $"b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "fixture must plant pairs")
    assert(lsh.subsetOf(exact), s"false positives: ${lsh.diff(exact)}")
    val recall = lsh.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.99, s"recall=$recall exact=${exact.size} lsh=${lsh.size}")
  }

  test("exact Jaccard values match a scala set computation") {
    val docs = corpus(12, 20)
    val got = NgramJaccard.wordPairs(docs.toDF("k", "text"), 3, 0.5)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(got.nonEmpty, "fixture must plant pairs")
    def shingleSet(t: String) = t.split(" ").filter(_.nonEmpty).sliding(3)
      .filter(_.length == 3).map(_.mkString(" ")).toSet
    for (((a, b), j) <- got) {
      val (sa, sb) = (shingleSet(docs.toMap.apply(a)), shingleSet(docs.toMap.apply(b)))
      val expected = sa.intersect(sb).size.toDouble / sa.union(sb).size
      assert(math.abs(j - expected) < 1e-5, s"pair ($a,$b)")
    }
  }

  test("one shingle pass: signatures, bands and sets equal the kernels row by row") {
    val texts = Seq[(Long, String)](
      (0L, null),                                  // null text: empty set
      (1L, "two words"),                           // fewer than n words
      (2L, ""),
      (3L, "  the   quick  brown fox  "),          // repeated spaces
      (4L, "the quick brown fox"),
      (5L, "naïve café über straße 東京 タワー 🙂 ok"), // multi-byte UTF-8
      (6L, "naïve café über"))
    val docs = texts.toDF("k", "text")
    val cfg = MinHashLSH.Config(numHashes = 16, bands = 4)
    val seeds = Shingles.seeds(cfg.numHashes)
    val sets = texts.map { case (k, t) => k -> Shingles.wordNgramHashes(t, MinHashLSH.ShingleLen) }
    val sigs = sets.map { case (k, s) => k -> Shingles.minhashSignature(s, seeds) }
    val bands = for ((k, s) <- sets if s.nonEmpty; bi <- 0 until cfg.bands) yield {
      val sig = sigs.toMap.apply(k)
      var h = 0x6a0917b1L + bi
      for (r <- 0 until cfg.rowsPerBand)
        h = graft.functions.PolyHash.mix64(h ^ sig(bi * cfg.rowsPerBand + r))
      (k, bi, h)
    }
    assert(sets.count(_._2.nonEmpty) == 4 && sets.toMap.apply(3L).sameElements(sets.toMap.apply(4L)))

    val gotSets = NgramJaccard.shingleSets(docs, MinHashLSH.ShingleLen)
      .as[(Long, Array[Long])].collect().map { case (k, s) => k -> s.toSeq }.sortBy(_._1)
    assert(gotSets.toSeq == sets.map { case (k, s) => k -> s.toSeq })
    val gotSigs = MinHashLSH.signatures(docs, cfg)
      .as[(Long, Array[Long])].collect().map { case (k, s) => k -> s.toSeq }.sortBy(_._1)
    assert(gotSigs.toSeq == sigs.map { case (k, s) => k -> s.toSeq })
    val gotBands = MinHashLSH.bandTable(docs, cfg).as[(Long, Int, Long)].collect()
    assert(gotBands.sorted.toSeq == bands.sorted)
  }

  test("hamming banding pairs == brute force, exact recall") {
    val r = new scala.util.Random(21)
    val base = (0 until 150).map(i => (i.toLong, r.nextLong()))
    val near = base.filter(_._1 % 5 == 0).map { case (id, bits) =>
      var b = bits
      (0 until r.nextInt(4)).foreach(_ => b ^= (1L << r.nextInt(64)))
      (id + 10000L, b)
    }
    val all = base ++ near
    val radius = 4
    val brute = (for {
      (ia, ba) <- all; (ib, bb) <- all if ia < ib
      d = java.lang.Long.bitCount(ba ^ bb) if d <= radius
    } yield (ia, ib, d)).toSet
    val got = Hamming.pairs(all.toDF("id", "bits"), radius)
      .as[(Long, Long, Int)].collect().toSet
    assert(got == brute)
  }

  test("hamming two-level == flat differential, r in {3, 4, 6}") {
    val rnd = new scala.util.Random(77)
    val base = (0 until 200).map(i => (i.toLong, rnd.nextLong()))
    val near = base.filter(_._1 % 4 == 0).map { case (id, bits) =>
      var b = bits
      (0 until 1 + rnd.nextInt(6)).foreach(_ => b ^= (1L << rnd.nextInt(64)))
      (id + 5000L, b)
    }
    val df = (base ++ near).toDF("id", "bits")
    for (r <- Seq(3, 4, 6)) {
      val two = Hamming.pairsTwoLevel(df, r).as[(Long, Long, Int)].collect().toSet
      val flat = Hamming.pairsFlat(df, r).as[(Long, Long, Int)].collect().toSet
      assert(two == flat, s"r=$r")
    }
  }

  test("hamming skew: a hot shared wide-block value stays sub-quadratic and exact") {
    // 20k fingerprints all sharing block 0 (the low 22 bits at r=4) -- the
    // shape that makes the flat 13-bit-block join go quadratic (one bucket
    // holding every row). The two-level scheme splits the hot bucket by
    // complement sub-blocks; this must return the exact answer in seconds,
    // not enumerate 4e8 candidates.
    val rnd = new scala.util.Random(99)
    val hot = 0x2ABCDEL // shared low-22-bit block value
    val n = 20000
    val bits = new Array[Long](n)
    var i = 0
    while (i < n) {
      bits(i) = (rnd.nextLong() << 22) | hot
      if (i % 100 == 99) { // plant near pairs with <= 4 flipped high bits
        var b = bits(i - 1)
        (0 until 1 + rnd.nextInt(4)).foreach(_ => b ^= (1L << (22 + rnd.nextInt(42))))
        bits(i) = b
      }
      i += 1
    }
    val radius = 4
    val brute = scala.collection.mutable.Set.empty[(Long, Long, Int)]
    var a = 0
    while (a < n) {
      var b = a + 1
      while (b < n) {
        val d = java.lang.Long.bitCount(bits(a) ^ bits(b))
        if (d <= radius) brute += ((a.toLong, b.toLong, d))
        b += 1
      }
      a += 1
    }
    val got = Hamming.pairs(
      (0 until n).map(j => (j.toLong, bits(j))).toDF("id", "bits"), radius)
      .as[(Long, Long, Int)].collect().toSet
    assert(got == brute.toSet)
    assert(got.nonEmpty) // the planted pairs were actually exercised
  }

  test("simhash: identical docs equal, near docs close, distinct docs far") {
    val r = new scala.util.Random(31)
    val t1 = (0 until 60).map(_ => words(r.nextInt(words.length))).mkString(" ")
    val t2 = t1 + " extra tail"
    val t3 = (0 until 60).map(_ => words(r.nextInt(words.length))).mkString(" ")
    val sh = SimHash.simhashes(
      Seq((1L, t1), (2L, t1), (3L, t2), (4L, t3)).toDF("k", "text"), 5)
      .as[(Long, Long)].collect().toMap
    assert(sh(1L) == sh(2L))
    val near = java.lang.Long.bitCount(sh(1L) ^ sh(3L))
    val far = java.lang.Long.bitCount(sh(1L) ^ sh(4L))
    assert(near <= 8, s"near=$near")
    assert(far > near, s"far=$far near=$near")
  }

  test("winnowing: docs sharing a >= n+w-1 run share a fingerprint, disjoint docs don't") {
    import org.apache.spark.sql.functions.col
    val n = 8; val w = 4
    val run = "the quick brown fox jumps over it" // 33 >= n+w-1 = 11
    val docs = Seq(
      (0L, s"alpha text one $run padding padding"),
      (1L, s"completely different body here $run and a tail"),
      (2L, "no shared material in this document at all, zz 998877")
    ).toDF("k", "text")
    val fp = graft.operators.TextStats.winnowFingerprints(docs, n, w)
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert((fp(0L) & fp(1L)).nonEmpty, "guarantee: shared run => shared fingerprint")
    assert((fp(0L) & fp(2L)).isEmpty && (fp(1L) & fp(2L)).isEmpty)
    // selection density: at least one fingerprint per w positions
    val len0 = docs.where(col("k") === 0).collect()(0).getString(1).length
    assert(fp(0L).size >= (len0 - n + 1) / (2 * w))
  }

  test("minhash signature similarity approximates jaccard") {
    val seeds = Shingles.seeds(256)
    val r = new scala.util.Random(41)
    val a = Array.fill(300)(r.nextLong()).distinct.sorted
    val b = (a.take(200) ++ Array.fill(100)(r.nextLong())).distinct.sorted
    val sa = Shingles.minhashSignature(a, seeds)
    val sb = Shingles.minhashSignature(b, seeds)
    val est = sa.zip(sb).count { case (x, y) => x == y }.toDouble / seeds.length
    val truth = DedupTestOracle.jaccard(a, b)
    assert(math.abs(est - truth) < 0.12, s"est=$est truth=$truth")
  }
}
