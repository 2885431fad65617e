package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import graft.functions.{PolyHash, Shingles, Utf8}

/** Single-threaded timings of the `functions` kernels on seeded in-memory
  * bytes, outside Spark. Each kernel sweeps its whole input once per
  * repetition; the result is the median MB/s over the repetitions.
  */
object Kernels {
  private val vocab = Array("data", "model", "café", "naïve", "日本語", "über",
    "token", "shard", "😊", "Straße", "index", "query")

  private def doc(r: SplittableRandom, words: Int): String =
    Array.fill(words)(vocab(r.nextInt(vocab.length)) + r.nextInt(1000)).mkString(" ")

  /** Median MB/s of `sweep` over `reps` timed windows of at least 40 ms,
    * after a 300 ms warm-up; a window repeats the sweep as often as fits.
    */
  private def rate(mb: Double, reps: Int)(sweep: => Long): Double = {
    var sink = 0L
    def window(minNanos: Long): Double = {
      val t0 = System.nanoTime()
      var t = t0
      var n = 0
      while (t - t0 < minNanos) { sink += sweep; n += 1; t = System.nanoTime() }
      mb * n / ((t - t0) / 1e9)
    }
    window(300000000L)
    val rates = (1 to reps).map(_ => window(40000000L))
    if (sink == 42L) System.err.println("") // keeps the sweeps observable
    Stats.median(rates)
  }

  def run(seed: Long): Map[String, Double] = {
    val r = new SplittableRandom(seed ^ 0x6b65726eL)
    val docs = Array.fill(256)(doc(r, 400).getBytes(UTF_8))          // ~4 KB each
    val captions = Array.fill(1024)(doc(r, 100))                       // ~1 KB each
    val capSeeds = Shingles.seeds(128)
    val ranges = docs.map { b =>
      val n = b.length
      Seq.tabulate(4)(j => (n * j / 4 + r.nextInt(64).toLong, n * j / 4 + 600L + r.nextInt(64)))
        .map { case (s, e) => (s, math.min(e, n.toLong)) }
    }
    val clipped = docs.indices.map(i => Utf8.clipRanges(docs(i), ranges(i)))
    val docMb = docs.iterator.map(_.length.toLong).sum / 1e6
    val capMb = captions.iterator.map(_.getBytes(UTF_8).length.toLong).sum / 1e6
    val reps = 5
    Map(
      "functions.polyhash_mb_s" -> rate(docMb, reps) {
        docs.iterator.map(d => PolyHash.windowHashes2(d, 500)._1.length.toLong).sum
      },
      "functions.minhash_mb_s" -> rate(capMb, reps) {
        captions.iterator.map(c =>
          Shingles.minhashSignature(Shingles.wordNgramHashes(c, 3), capSeeds)(0)).sum
      },
      "functions.utf8_clip_mb_s" -> rate(docMb, reps) {
        docs.indices.iterator.map(i => Utf8.clipRanges(docs(i), ranges(i)).head._1).sum
      },
      "functions.utf8_remove_mb_s" -> rate(docMb, reps) {
        docs.indices.iterator.map(i => Utf8.removeRanges(docs(i), clipped(i)).length.toLong).sum
      })
  }
}
