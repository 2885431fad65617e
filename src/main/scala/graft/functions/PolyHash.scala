package graft.functions

/** Portable polynomial rolling hash over bytes, modulo the Mersenne prime
  * 2^61 - 1, with two independent bases -> 122 effective bits per window.
  *
  * Used to key fixed-length (`minLen`-byte) windows without materializing
  * the window bytes: the reference engine compares raw `min_len`-byte
  * prefixes of suffix-array neighbours (cpp_engine_dedup.h:233-234
  * `memcmp(ds+ptr1, ds+ptr2, min_len)`); the hash only blocks: equal
  * 122-bit hashes co-locate and sort together, and every window in a
  * (rare) hash run is then compared by its exact key (see
  * SubstringDedup.members).
  *
  * Deterministic, seed-free, and O(1) per position via rolling update --
  * this is what keeps window generation at O(bytes) instead of
  * O(bytes * minLen) on a 100 TB corpus.
  */
object PolyHash {
  final val P: Long = (1L << 61) - 1 // Mersenne prime 2^61-1
  final val B1: Long = 131L
  final val B2: Long = 4099L

  /** (a * b) mod (2^61-1) without overflow.
    * a, b must be in [0, 2^61). Uses 2^61 === 1 (mod P) twice.
    */
  @inline def mulmod(a: Long, b: Long): Long = {
    val hi = Math.multiplyHigh(a, b) // product = hi*2^64 + lo
    val lo = a * b
    // 2^64 === 8 (mod P); fold lo = (lo >>> 61) + (lo & P)  since 2^61 === 1
    var r = hi * 8 + (lo >>> 61) + (lo & P)
    // r < 2^61 + 2^3 + 2^61 approx; fold once more
    r = (r >>> 61) + (r & P)
    if (r >= P) r - P else r
  }

  @inline def addmod(a: Long, b: Long): Long = {
    val r = a + b // both < 2^61, no overflow
    if (r >= P) r - P else r
  }

  @inline def submod(a: Long, b: Long): Long = {
    val r = a - b
    if (r < 0) r + P else r
  }

  /** base^e mod P */
  def powmod(base: Long, e: Long): Long = {
    var r = 1L; var b = base % P; var n = e
    while (n > 0) {
      if ((n & 1) == 1) r = mulmod(r, b)
      b = mulmod(b, b); n >>= 1
    }
    r
  }

  /** Hash of bytes[off, off+len): sum b(i)*base^(len-1-i), bytes as 0..255. */
  def hash(bytes: Array[Byte], off: Int, len: Int, base: Long): Long = {
    var h = 0L; var i = off
    val end = off + len
    while (i < end) {
      h = addmod(mulmod(h, base), (bytes(i) & 0xff).toLong)
      i += 1
    }
    h
  }

  /** All window hashes of length `winLen` over `bytes`, for one base.
    * Returns array of size max(0, bytes.length - winLen + 1).
    * O(n) rolling: h(i+1) = (h(i) - b(i)*base^(L-1)) * base + b(i+L).
    */
  def windowHashes(bytes: Array[Byte], winLen: Int, base: Long): Array[Long] = {
    val n = bytes.length
    if (n < winLen) return Array.emptyLongArray
    val out = new Array[Long](n - winLen + 1)
    val top = powmod(base, (winLen - 1).toLong) // base^(L-1)
    var h = hash(bytes, 0, winLen, base)
    out(0) = h
    var i = 0
    while (i < n - winLen) {
      h = submod(h, mulmod((bytes(i) & 0xff).toLong, top))
      h = addmod(mulmod(h, base), (bytes(i + winLen) & 0xff).toLong)
      i += 1
      out(i) = h
    }
    out
  }

  /** Both bases' window hashes in ONE pass over the bytes: the window
    * shuffle keys every position by (h1, h2), and two separate
    * windowHashes calls sweep the corpus twice -- at 100 TB the second
    * sweep is pure wasted memory bandwidth. Same values as
    * (windowHashes(b, L, B1), windowHashes(b, L, B2)) (property-tested).
    */
  def windowHashes2(bytes: Array[Byte], winLen: Int): (Array[Long], Array[Long]) = {
    val n = bytes.length
    if (n < winLen) return (Array.emptyLongArray, Array.emptyLongArray)
    val o1 = new Array[Long](n - winLen + 1)
    val o2 = new Array[Long](n - winLen + 1)
    val top1 = powmod(B1, (winLen - 1).toLong)
    val top2 = powmod(B2, (winLen - 1).toLong)
    var h1 = 0L; var h2 = 0L
    var i = 0
    while (i < winLen) {
      val c = (bytes(i) & 0xff).toLong
      h1 = addmod(mulmod(h1, B1), c)
      h2 = addmod(mulmod(h2, B2), c)
      i += 1
    }
    o1(0) = h1; o2(0) = h2
    var p = 0
    while (p < n - winLen) {
      val out = (bytes(p) & 0xff).toLong
      val in = (bytes(p + winLen) & 0xff).toLong
      h1 = addmod(mulmod(submod(h1, mulmod(out, top1)), B1), in)
      h2 = addmod(mulmod(submod(h2, mulmod(out, top2)), B2), in)
      p += 1
      o1(p) = h1; o2(p) = h2
    }
    (o1, o2)
  }

  /** Both bases' window hashes over a stream of LONG digits (token ids)
    * instead of bytes -- the token-unit generalization of windowHashes2
    * (the reference templates its engine over u8/u16/u32 units,
    * cpp_engine_dedup.h:70-77; token digits here are the built-in
    * `xxhash64` of each token, so one code path covers any vocabulary
    * size). Digits, negative ones included, are reduced mod P like any
    * other long digit; same rolling recurrence, O(1) per position.
    */
  def windowHashesLongs2(digits: Array[Long], winLen: Int): (Array[Long], Array[Long]) = {
    val n = digits.length
    if (n < winLen) return (Array.emptyLongArray, Array.emptyLongArray)
    val o1 = new Array[Long](n - winLen + 1)
    val o2 = new Array[Long](n - winLen + 1)
    val top1 = powmod(B1, (winLen - 1).toLong)
    val top2 = powmod(B2, (winLen - 1).toLong)
    @inline def digit(i: Int): Long = {
      val d = digits(i) % P
      if (d < 0) d + P else d
    }
    var h1 = 0L; var h2 = 0L
    var i = 0
    while (i < winLen) {
      val c = digit(i)
      h1 = addmod(mulmod(h1, B1), c)
      h2 = addmod(mulmod(h2, B2), c)
      i += 1
    }
    o1(0) = h1; o2(0) = h2
    var p = 0
    while (p < n - winLen) {
      val out = digit(p)
      val in = digit(p + winLen)
      h1 = addmod(mulmod(submod(h1, mulmod(out, top1)), B1), in)
      h2 = addmod(mulmod(submod(h2, mulmod(out, top2)), B2), in)
      p += 1
      o1(p) = h1; o2(p) = h2
    }
    (o1, o2)
  }

  /** splitmix64 finalizer -- used to derive k independent MinHash
    * permutations from one 64-bit shingle hash (seeded re-mix), and as a
    * generic portable scrambler. Public-domain algorithm (Steele et al.).
    */
  @inline def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
}
