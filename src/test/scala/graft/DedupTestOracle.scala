package graft

import java.nio.charset.StandardCharsets.UTF_8

/** Brute-force reimplementation of the reference naive dedup semantics
  * (cpp_engine_dedup.h:215-302) shared by the differential specs: group
  * positions by actual window contents, keep the (k,pos)-minimum,
  * coalesce the rest per doc with overlap-or-touch.
  */
object DedupTestOracle {

  /** Members (k, pos, dropped) of every group of >= 2 positions with
    * equal minLen-unit windows (reference find_dup_ptrs): the group's
    * (k, pos)-minimum is kept (dropped = false), every other member is
    * removable.
    */
  def members[U](docs: Seq[(Long, IndexedSeq[U])], minLen: Int): Set[(Long, Long, Boolean)] = {
    val wins = for ((k, us) <- docs; p <- 0 to us.length - minLen)
      yield (us.slice(p, p + minLen), (k, p.toLong))
    wins.groupBy(_._1).values.filter(_.size >= 2).flatMap { g =>
      val ms = g.map(_._2).sorted
      ms.map { case (k, p) => (k, p, (k, p) != ms.head) }
    }.toSet
  }

  /** Byte-window group members. */
  def bruteMembers(docs: Seq[(Long, String)], minLen: Int): Set[(Long, Long, Boolean)] =
    members(docs.map { case (k, t) => (k, t.getBytes(UTF_8).toIndexedSeq) }, minLen)

  /** Token-window group members over the (optionally reversed)
    * whitespace token stream, in token offsets of that stream.
    */
  def bruteTokenMembers(docs: Seq[(Long, String)], minLenTok: Int,
                        reversed: Boolean): Set[(Long, Long, Boolean)] =
    members(docs.map { case (k, t) =>
      val ws = t.split(' ').filter(_.nonEmpty).toIndexedSeq
      (k, if (reversed) ws.reverse else ws)
    }, minLenTok)

  /** The dropped members' (k, pos): the removable positions. */
  def dropped(members: Set[(Long, Long, Boolean)]): Set[(Long, Long)] =
    members.collect { case (k, p, true) => (k, p) }

  /** Interval union of [pos, pos + minLen) per doc, overlap or touch. */
  def coalesce(removable: Set[(Long, Long)], minLen: Int): Set[(Long, Long, Long)] =
    removable.groupBy(_._1).flatMap { case (k, ps) =>
      val ranges = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      for (p <- ps.toSeq.map(_._2).sorted) {
        if (ranges.nonEmpty && ranges.last._2 >= p)
          ranges(ranges.length - 1) = (ranges.last._1, p + minLen)
        else ranges += ((p, p + minLen))
      }
      ranges.map { case (s, e) => (k, s, e) }
    }.toSet

  def bruteRanges(docs: Seq[(Long, String)], minLen: Int): Set[(Long, Long, Long)] =
    coalesce(dropped(bruteMembers(docs, minLen)), minLen)

  /** Token-mode ranges: first-occurrence keep over minLenTok-token
    * windows of the (optionally reversed) whitespace token stream,
    * interval union in token offsets.
    */
  def bruteTokenRanges(docs: Seq[(Long, String)], minLenTok: Int,
                       reversed: Boolean): Set[(Long, Long, Long)] =
    coalesce(dropped(bruteTokenMembers(docs, minLenTok, reversed)), minLenTok)

  /** Exact Jaccard similarity of two SORTED distinct-hash arrays. */
  def jaccard(a: Array[Long], b: Array[Long]): Double = {
    if (a.isEmpty && b.isEmpty) return 0.0
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    inter.toDouble / (a.length + b.length - inter)
  }

  /** Independent UTF-8 clip (reference write_back_to_jsonl_sharded.py:75-84
    * semantics, re-derived here so tests don't reuse the library's clip).
    */
  def clipIndependent(b: Array[Byte], s0: Long, e0: Long): (Long, Long) = {
    def cont(x: Byte) = (x & 0xc0) == 0x80
    var s = s0.toInt
    while (s < b.length && cont(b(s))) s += 1
    var e = e0.toInt
    if (e != b.length) { while (e > 0 && cont(b(e))) e -= 1 }
    assert(s <= e)
    (s.toLong, e.toLong)
  }
}
