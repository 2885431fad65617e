package graft.functions

/** Shingling kernels. Per-doc, driver-free, hashed with the same 61-bit
  * polynomial hash as window generation. Distinct word n-gram SETS
  * (`wordNgramHashes`) feed MinHash and exact Jaccard; byte n-gram BAGS
  * (`allHashes`) feed SimHash weights.
  */
object Shingles {

  /** All (non-distinct) shingle hashes in document order. */
  def allHashes(bytes: Array[Byte], n: Int): Array[Long] =
    if (bytes == null) Array.emptyLongArray
    else PolyHash.windowHashes(bytes, n, PolyHash.B1)

  /** Distinct word n-gram shingle hashes: whitespace tokens (empties
    * dropped), shingle = n consecutive words joined by a single space,
    * hashed over its UTF-8 bytes. Word shingles have a combinatorial
    * universe, so document frequencies stay low even on small-vocabulary
    * corpora where every char n-gram is near-universal -- the property
    * prefix filtering and inverted indexes need to stay linear.
    */
  def wordNgramHashes(text: String, n: Int): Array[Long] = {
    if (text == null) return Array.emptyLongArray // null text = no shingles
    val words = text.split(" ").filter(_.nonEmpty)
    if (words.length < n) return Array.emptyLongArray
    val hs = new Array[Long](words.length - n + 1)
    var i = 0
    while (i <= words.length - n) {
      val b = words.slice(i, i + n).mkString(" ")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      hs(i) = PolyHash.hash(b, 0, b.length, PolyHash.B1)
      i += 1
    }
    java.util.Arrays.sort(hs)
    var w = 1
    i = 1
    while (i < hs.length) {
      if (hs(i) != hs(w - 1)) { hs(w) = hs(i); w += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(hs, w)
  }

  /** MinHash signature from distinct shingle hashes: sig(i) =
    * min over shingles of mix64(shingle ^ seed(i)). Computed per doc with
    * no shuffle (the shingle set is local to the row). Empty docs get
    * Long.MaxValue sentinels.
    */
  def minhashSignature(shingleHashes: Array[Long], seeds: Array[Long]): Array[Long] = {
    val sig = Array.fill(seeds.length)(Long.MaxValue)
    var i = 0
    while (i < shingleHashes.length) {
      val sh = shingleHashes(i)
      var j = 0
      while (j < seeds.length) {
        val h = PolyHash.mix64(sh ^ seeds(j))
        if (h < sig(j)) sig(j) = h
        j += 1
      }
      i += 1
    }
    sig
  }

  /** SimHash over shingle hashes: bit j of the result is 1 iff the sum of
    * (+1 / -1) votes from bit j of each (mixed) shingle hash is positive.
    */
  def simhash64(shingleHashes: Array[Long]): Long = {
    val votes = new Array[Int](64)
    var i = 0
    while (i < shingleHashes.length) {
      val h = PolyHash.mix64(shingleHashes(i))
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) {
      if (votes(j) > 0) out |= (1L << j)
      j += 1
    }
    out
  }

  /** Deterministic seed schedule for the k MinHash permutations. */
  def seeds(k: Int): Array[Long] =
    Array.tabulate(k)(i => PolyHash.mix64(0x5eed0000L + i))
}
