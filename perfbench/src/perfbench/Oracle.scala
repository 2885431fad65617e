package perfbench

/** Independent single-threaded implementation of the substring-dedup
  * contract the program claims (hg-dedup semantics): a byte position p of a
  * doc is removable iff the `minLen`-byte window starting at p lies inside
  * the doc and a byte-identical window starts at an earlier position, in
  * (doc order, offset) order. Remove ranges are the union of
  * [p, p + minLen) over removable positions (overlapping or touching spans
  * merge), then clipped inward to UTF-8 character boundaries.
  *
  * Windows are found through an open-addressing table keyed by a 64-bit
  * rolling hash; every hash hit is confirmed by comparing the bytes against
  * the stored first occurrence, so a hash collision can never mark a
  * position removable.
  */
object Oracle {

  private final val Base = 0x100000001b3L // odd; arithmetic is mod 2^64

  def removeRanges(docs: IndexedSeq[Array[Byte]], minLen: Int): IndexedSeq[Array[(Int, Int)]] = {
    val nWin = docs.iterator.map(d => math.max(0, d.length - minLen + 1).toLong).sum
    var cap = 16
    while (cap < 2 * nWin) cap <<= 1
    val keys = new Array[Long](cap)
    val vals = Array.fill(cap)(-1L) // doc << 32 | offset of the first occurrence
    val mask = cap - 1
    var top = 1L
    (1 until minLen).foreach(_ => top *= Base)

    def slot(h: Long): Int = {
      var z = h * 0xbf58476d1ce4e5b9L
      z ^= z >>> 31
      (z & mask).toInt
    }

    /** True when an identical earlier window exists; records this one otherwise. */
    def seen(h: Long, doc: Int, off: Int): Boolean = {
      var s = slot(h)
      while (vals(s) >= 0) {
        if (keys(s) == h) {
          val d0 = (vals(s) >>> 32).toInt
          val o0 = vals(s).toInt
          if (java.util.Arrays.equals(docs(d0), o0, o0 + minLen, docs(doc), off, off + minLen))
            return true
        }
        s = (s + 1) & mask
      }
      keys(s) = h
      vals(s) = (doc.toLong << 32) | off
      false
    }

    docs.indices.map { d =>
      val b = docs(d)
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      if (b.length >= minLen) {
        var h = 0L
        var i = 0
        while (i < minLen) { h = h * Base + (b(i) & 0xff); i += 1 }
        var p = 0
        var curS = -1; var curE = -1
        while (p <= b.length - minLen) {
          if (p > 0) h = (h - (b(p - 1) & 0xff) * top) * Base + (b(p + minLen - 1) & 0xff)
          if (seen(h, d, p)) {
            if (curS >= 0 && p <= curE) curE = p + minLen
            else {
              if (curS >= 0) out += ((curS, curE))
              curS = p; curE = p + minLen
            }
          }
          p += 1
        }
        if (curS >= 0) out += ((curS, curE))
      }
      out.map { case (s, e) => clip(b, s, e) }.toArray
    }
  }

  private def isCont(x: Byte): Boolean = (x & 0xc0) == 0x80

  /** Start moves right past continuation bytes; end moves left onto a
    * character start unless it is the end of the doc.
    */
  def clip(b: Array[Byte], s0: Int, e0: Int): (Int, Int) = {
    var s = s0
    while (s < b.length && isCont(b(s))) s += 1
    var e = e0
    if (e != b.length) while (e > 0 && isCont(b(e))) e -= 1
    (s, math.max(s, e))
  }

  /** The doc with the ranges cut out. */
  def cut(b: Array[Byte], ranges: Array[(Int, Int)]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(b.length)
    var at = 0
    ranges.foreach { case (s, e) => out.write(b, at, s - at); at = e }
    out.write(b, at, b.length - at)
    out.toByteArray
  }
}
